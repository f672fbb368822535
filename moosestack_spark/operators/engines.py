"""MergeTree engine-semantics gate queries (SURVEY.md §1.4, FIXTURES.md).

Each query synthesizes a pre-merge state deterministically from the driver
tables (duplicates with versions, signed rows), applies the engine view from
moosestack_spark.catalog.engine_views, and the oracle reproduces the same
semantics in ANSI SQL.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moosestack_spark.catalog.engine_views import (
    collapsing_resolve,
    replacing_latest,
    summing_rollup,
    versioned_collapsing_resolve,
)
from moosestack_spark.operators._determinism import dsum
from moosestack_spark.registry import query
from moosestack_spark.tables import t

# --------------------------------------------------------------------------
# ReplacingMergeTree: two "inserts" of every customer (v1 with original
# balance, v2 with doubled balance for a deterministic subset), dedup by key
# keeping max version; v2 rows for custkey % 10 == 0 are tombstoned.
# --------------------------------------------------------------------------


@query(
    "engine_replacing_dedup",
    oracle="""
SELECT c_custkey, c_name, bal, ver, is_deleted FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY ver DESC) AS rn
  FROM (
    SELECT c_custkey, c_name, c_acctbal AS bal, 1 AS ver, 0 AS is_deleted
    FROM customer
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal * 2 AS bal, 2 AS ver,
           CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END AS is_deleted
    FROM customer WHERE c_custkey % 3 = 0
  )
) WHERE rn = 1 AND is_deleted = 0
""",
)
def engine_replacing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    v1 = c.select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").alias("bal"),
        F.lit(1).alias("ver"),
        F.lit(0).alias("is_deleted"),
    )
    v2 = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            "c_name",
            (F.col("c_acctbal") * 2).alias("bal"),
            F.lit(2).alias("ver"),
            F.when(F.col("c_custkey") % 10 == 0, 1).otherwise(0).alias("is_deleted"),
        )
    )
    pre_merge = v1.unionByName(v2)
    return replacing_latest(
        pre_merge, keys=["c_custkey"], version_col="ver", is_deleted_col="is_deleted"
    )


# --------------------------------------------------------------------------
# SummingMergeTree: daily (event_type, day) rollup — equal-key rows summed.
# --------------------------------------------------------------------------


@query(
    "engine_summing_rollup",
    oracle="""
SELECT
  event_type,
  strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
  CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS value,
  CAST(SUM(1) AS BIGINT) AS cnt
FROM events
GROUP BY event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d')
""",
)
def engine_summing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.col("value").cast("decimal(25,4)").alias("value"),
        F.lit(1).cast("bigint").alias("cnt"),
    )
    out = summing_rollup(e, keys=["event_type", "day"], sum_cols=["value", "cnt"])
    return out.withColumn("value", F.col("value").cast("double"))


# --------------------------------------------------------------------------
# CollapsingMergeTree: each purchase event emits +1; a deterministic subset
# (event_id % 4 == 0) was "cancelled" by a -1 row.  Net-positive keys remain.
# --------------------------------------------------------------------------


@query(
    "engine_collapsing",
    oracle="""
SELECT event_id, user_id, 1 AS sign FROM (
  SELECT event_id, user_id, SUM(sign) AS net FROM (
    SELECT event_id, user_id, 1 AS sign FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id, user_id, -1 AS sign FROM events
    WHERE event_type = 'purchase' AND event_id % 4 = 0
  )
  GROUP BY event_id, user_id
) WHERE net > 0
""",
)
def engine_collapsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    plus = e.select("event_id", "user_id", F.lit(1).alias("sign"))
    minus = e.filter(F.col("event_id") % 4 == 0).select(
        "event_id", "user_id", F.lit(-1).alias("sign")
    )
    return collapsing_resolve(
        plus.unionByName(minus), keys=["event_id", "user_id"], sign_col="sign"
    )


# --------------------------------------------------------------------------
# VersionedCollapsingMergeTree: per-order state rows at versions 1..2 with
# cancellation of v1 when v2 exists; survivor is max un-cancelled version.
# --------------------------------------------------------------------------


@query(
    "engine_versioned_collapsing",
    oracle="""
SELECT o_orderkey, ver, 1 AS sign FROM (
  SELECT o_orderkey, ver,
         ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY ver DESC) AS rn
  FROM (
    SELECT o_orderkey, ver, SUM(sign) AS net FROM (
      SELECT o_orderkey, 1 AS ver, 1 AS sign FROM orders
      UNION ALL
      SELECT o_orderkey, 1 AS ver, -1 AS sign FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, 2 AS ver, 1 AS sign FROM orders WHERE o_orderkey % 2 = 0
    )
    GROUP BY o_orderkey, ver
  ) WHERE net > 0
) WHERE rn = 1
""",
)
def engine_versioned_collapsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_orderkey")
    even = o.filter(F.col("o_orderkey") % 2 == 0)
    rows = (
        o.select("o_orderkey", F.lit(1).alias("ver"), F.lit(1).alias("sign"))
        .unionByName(even.select("o_orderkey", F.lit(1).alias("ver"), F.lit(-1).alias("sign")))
        .unionByName(even.select("o_orderkey", F.lit(2).alias("ver"), F.lit(1).alias("sign")))
    )
    return versioned_collapsing_resolve(
        rows, keys=["o_orderkey"], sign_col="sign", version_col="ver"
    )


# --------------------------------------------------------------------------
# Source-format roundtrip (S3 table formats, catalog/engines.py:92-130): the
# reference's S3/S3Queue tables read CSV and JSONEachRow, not just parquet.
# This gate writes the supplier table out in both formats and reads it back
# through the same spark.read.format(...) path S3-engine tables use; the
# oracle aggregates the original table, so any serialization drift (header
# handling, type inference, decimal formatting) breaks the hash.
# --------------------------------------------------------------------------


@query(
    "source_csv_jsonl_roundtrip",
    oracle="""
SELECT 'csv' AS fmt,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM supplier
UNION ALL
SELECT 'jsonl' AS fmt,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM supplier
""",
)
def source_csv_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.col("s_acctbal").cast("decimal(18,2)").alias("bal"),
    )
    schema = "s_suppkey bigint, s_name string, bal decimal(18,2)"
    with tempfile.TemporaryDirectory(
        prefix="msk_src_csv_jsonl_", ignore_cleanup_errors=True
    ) as base:
        csv_dir, jsonl_dir = f"{base}/csv", f"{base}/jsonl"
        src.write.mode("overwrite").option("header", True).csv(csv_dir)
        src.write.mode("overwrite").json(jsonl_dir)  # JSONEachRow layout
        frames = []
        for fmt, path in (("csv", csv_dir), ("jsonl", jsonl_dir)):
            reader = spark.read.schema(schema)
            back = (
                reader.option("header", True).csv(path)
                if fmt == "csv"
                else reader.json(path)
            )
            frames.append(
                back.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("bal").cast("double").alias("total_bal"),
                ).select(F.lit(fmt).alias("fmt"), "n", "total_bal")
            )
        return frames[0].unionByName(frames[1]).localCheckpoint()


@query(
    "source_orc_partitioned_roundtrip",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderstatus <> 'P'
GROUP BY o_orderstatus
""",
)
def source_orc_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source-format roundtrip over a PARTITIONED layout: write orders
    as ORC partitioned by o_orderstatus, read back with a partition filter,
    aggregate.  Covers two things at once: the third columnar wire format
    (after parquet and CSV/JSONL), and partition pruning on the read path —
    the o_orderstatus <> 'P' filter eliminates whole directories before any
    ORC byte is read (at 100 TB this IS the dominant optimization; verified
    in tests/test_plans.py by asserting the pruned scan's partition count)."""
    src = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        "o_orderstatus",
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_src_orc_", ignore_cleanup_errors=True
    ) as orc_dir:
        src.write.mode("overwrite").partitionBy("o_orderstatus").orc(orc_dir)
        back = spark.read.orc(orc_dir).filter(F.col("o_orderstatus") != "P")
        return (
            back.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("price").cast("double").alias("total_price"),
            )
            .localCheckpoint()
        )


@query(
    "source_schema_evolution_defaults",
    oracle="""
SELECT o_orderkey,
       o_totalprice,
       CASE WHEN o_orderkey % 2 = 0 THEN 'NONE' ELSE o_orderpriority END
         AS priority
FROM orders WHERE o_orderkey % 23 = 0
""",
)
def source_schema_evolution_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD COLUMN read-path semantics: half the rows are
    written BEFORE the column existed (two parquet batches with different
    schemas), the read unifies them with mergeSchema, and a COALESCE
    projection fills the pre-evolution rows with the column DEFAULT — the
    ClickHouse behavior, where old parts materialize the default on read
    (reference: CH ALTER ADD COLUMN; moose planner emits the same DDL,
    catalog/planner.py).  Spark-native reads surface NULL for missing
    columns; the default projection is the engine-parity layer.

    Scale: mergeSchema costs one footer read per file at planning time;
    the data path is unchanged (still pruned columnar scans)."""
    src = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 23 == 0)
    old_part = src.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new_part = src.filter(F.col("o_orderkey") % 2 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_src_evo_", ignore_cleanup_errors=True
    ) as base:
        old_part.write.mode("overwrite").parquet(f"{base}/batch=0")
        new_part.write.mode("overwrite").parquet(f"{base}/batch=1")
        back = spark.read.option("mergeSchema", "true").parquet(base)
        return back.select(
            "o_orderkey",
            "o_totalprice",
            F.coalesce(F.col("o_orderpriority"), F.lit("NONE")).alias("priority"),
        ).localCheckpoint()


@query(
    "table_time_travel",
    oracle="""
SELECT 1 AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders WHERE o_orderkey % 17 = 0 AND o_orderkey % 2 = 0
UNION ALL
SELECT 2 AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders WHERE o_orderkey % 17 = 0
""",
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel end-to-end: two DataFrame inserts into a fresh
    OlapTable (even keys, then odd), then each committed snapshot is read
    back via read_at — v1 must see ONLY the first batch even though the
    live table has both.  The oracle states the construction-implied
    per-version counts and exact-decimal totals, so a manifest that leaks
    or loses files fails the hash."""
    from pydantic import BaseModel

    from moosestack_spark.catalog.table import OlapTable

    class OrderRow(BaseModel):
        o_orderkey: int
        o_totalprice: float

    src = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 17 == 0)
        .select("o_orderkey", "o_totalprice")
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_time_travel_", ignore_cleanup_errors=True
    ) as wh:
        table = OlapTable("tt_orders", OrderRow, spark, wh, register=False)
        table.insert(src.filter(F.col("o_orderkey") % 2 == 0))
        table.insert(src.filter(F.col("o_orderkey") % 2 != 0))
        outs = []
        for v in (1, 2):
            outs.append(
                table.read_at(v).agg(
                    F.lit(v).alias("version"),
                    F.count(F.lit(1)).alias("n_rows"),
                    dsum("o_totalprice").alias("total"),
                )
            )
        frame = outs[0].unionByName(outs[1])
        # materialize before the temp warehouse disappears
        return frame.localCheckpoint()


@query(
    "source_gzip_jsonl_roundtrip",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
       CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS nations
FROM supplier
""",
)
def source_gzip_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed source-file ingestion: JSONEachRow written gzip, read
    back through the same schema-pinned reader — Spark decompresses .gz
    splits transparently (the common S3-landing layout for event logs;
    note .gz files are NOT splittable, so at 100 TB the landing zone
    should prefer zstd/parquet or many small .gz objects — one task per
    file is the parallelism unit here)."""
    src = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.col("s_acctbal").cast("decimal(18,2)").alias("bal"),
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_src_gz_", ignore_cleanup_errors=True
    ) as gz_dir:
        src.write.mode("overwrite").option("compression", "gzip").json(gz_dir)
        import glob as _glob

        assert _glob.glob(gz_dir + "/*.json.gz"), "expected gzip members"
        back = spark.read.schema(
            "s_suppkey bigint, s_nationkey bigint, bal decimal(18,2)"
        ).json(gz_dir)
        return back.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal").cast("double").alias("total_bal"),
            F.count_distinct("s_nationkey").alias("nations"),
        ).localCheckpoint()


@query(
    "source_iceberg_native_read",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS sum_cents
FROM orders
WHERE o_orderkey % 7 = 0 AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
GROUP BY o_orderpriority
""",
)
def source_iceberg_native_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Iceberg v2 read path (catalog/iceberg_native.py): plant a
    spec-shaped Iceberg table from orders (identity-partitioned by
    o_orderpriority; Avro manifests, manifest list, v2 metadata json), then
    read through the metadata walk TWICE with partition pruning — each
    priority's read opens only that partition's data files (field_summary
    manifest pruning + entry pruning), then Spark scans just those parquet
    files.  Reference: blocks.py:425-478 configures IcebergS3 and delegates
    to ClickHouse's reader; here the metadata layer is native (no jars).
    The oracle replays the same subset directly from orders."""
    from moosestack_spark.catalog.iceberg_native import IcebergNativeTable
    from moosestack_spark.tables import t as _t

    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_iceberg_", ignore_cleanup_errors=True
    ) as base:
        table = IcebergNativeTable.write(
            src, base + "/orders_ice", partition_by="o_orderpriority"
        )
        parts = []
        for pr in ("1-URGENT", "3-MEDIUM"):
            sub = table.read(partition_filter={"o_orderpriority": pr})
            parts.append(
                sub.groupBy("o_orderpriority").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        (
                            F.col("o_totalprice").cast("decimal(12,2)") * 100
                        ).cast("bigint")
                    )
                    .cast("bigint")
                    .alias("sum_cents"),
                )
            )
        out = parts[0].unionByName(parts[1])
        return out.localCheckpoint()  # result survives the temp-dir cleanup


@query(
    "source_delta_native_read",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS sum_cents
FROM orders
WHERE o_orderkey % 7 IN (0, 3)
  AND o_orderpriority IN ('2-HIGH', '5-LOW')
GROUP BY o_orderpriority
""",
)
def source_delta_native_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Delta Lake read path (catalog/delta_native.py): plant a
    protocol-shaped Delta table from orders (partitioned by
    o_orderpriority, Hive-style dirs WITHOUT the column in-file), APPEND a
    second commit, then read the latest snapshot through the JSON-log
    replay with partition pruning — add/remove reconciliation, basePath
    partition-column reconstruction, and pruning before any file opens are
    all on the hash-gated path.  The oracle replays both batches' union
    directly from orders."""
    from moosestack_spark.catalog.delta_native import DeltaNativeTable
    from moosestack_spark.tables import t as _t

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_delta_", ignore_cleanup_errors=True
    ) as base:
        path = base + "/orders_delta"
        DeltaNativeTable.write(
            orders.filter(F.col("o_orderkey") % 7 == 0),
            path,
            partition_by="o_orderpriority",
        )
        table = DeltaNativeTable.write(
            orders.filter(F.col("o_orderkey") % 7 == 3),
            path,
            partition_by="o_orderpriority",
            mode="append",
        )
        parts = []
        for pr in ("2-HIGH", "5-LOW"):
            sub = table.read(partition_filter={"o_orderpriority": pr})
            parts.append(
                sub.groupBy("o_orderpriority").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        (
                            F.col("o_totalprice").cast("decimal(12,2)") * 100
                        ).cast("bigint")
                    )
                    .cast("bigint")
                    .alias("sum_cents"),
                )
            )
        return parts[0].unionByName(parts[1]).localCheckpoint()


@query(
    "source_ch_formats_roundtrip",
    oracle="""
SELECT 'tsv_with_names' AS fmt,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
       CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS nations
FROM supplier
UNION ALL
SELECT 'json_compact_each_row' AS fmt,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
       CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS nations
FROM supplier
""",
)
def source_ch_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two more ClickHouse wire formats on the S3-table read path
    (reference: blocks.py S3 table `format` — CH formats doc):
    TabSeparatedWithNames (CSV reader, sep='\\t', header) and
    JSONCompactEachRow (one JSON ARRAY per line, positional columns —
    written as text, read back via from_json(array<string>) + positional
    casts).  Both round-trips aggregate to the oracle's direct numbers."""
    src = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.col("s_acctbal").cast("decimal(18,2)").alias("bal"),
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_src_tsv_jc_", ignore_cleanup_errors=True
    ) as base:
        tsv_dir, jc_dir = f"{base}/tsv", f"{base}/jc"
        # TabSeparatedWithNames
        src.write.mode("overwrite").option("header", True).option(
            "sep", "\t"
        ).csv(tsv_dir)
        tsv_back = (
            spark.read.schema(
                "s_suppkey bigint, s_name string, s_nationkey bigint, "
                "bal decimal(18,2)"
            )
            .option("header", True)
            .option("sep", "\t")
            .csv(tsv_dir)
        )
        # JSONCompactEachRow: [v1, v2, ...] per line
        src.select(
            F.to_json(
                F.array(
                    F.col("s_suppkey").cast("string"),
                    F.col("s_name"),
                    F.col("s_nationkey").cast("string"),
                    F.col("bal").cast("string"),
                )
            ).alias("value")
        ).write.mode("overwrite").text(jc_dir)
        jc_back = (
            spark.read.text(jc_dir)
            .select(
                F.from_json(F.col("value"), "array<string>").alias("a")
            )
            .select(
                F.element_at("a", 1).cast("bigint").alias("s_suppkey"),
                F.element_at("a", 2).alias("s_name"),
                F.element_at("a", 3).cast("bigint").alias("s_nationkey"),
                F.element_at("a", 4).cast("decimal(18,2)").alias("bal"),
            )
        )
        frames = []
        for fmt, frame in (
            ("tsv_with_names", tsv_back),
            ("json_compact_each_row", jc_back),
        ):
            frames.append(
                frame.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("bal").cast("double").alias("total_bal"),
                    F.count_distinct("s_nationkey").alias("nations"),
                ).select(F.lit(fmt).alias("fmt"), "n", "total_bal", "nations")
            )
        return frames[0].unionByName(frames[1]).localCheckpoint()


# --------------------------------------------------------------------------
# Avro object-container source/sink on the pure-python codec
# (catalog/avro.py — no Avro jars in the sandbox).  Distributed at both
# ends: the SINK encodes each partition into its own container file inside
# a mapInPandas kernel (one file per task, the same layout any Avro
# landing zone uses); the SOURCE lists files with Spark's binaryFile
# reader and decodes per-file in a mapInPandas kernel — schema-driven, so
# any record shape the codec supports round-trips.  At 100 TB the
# parallelism unit is the file on both sides (Avro containers are
# block-splittable in principle; this reader takes file granularity, the
# honest equivalent of the non-splittable-gz caveat above).
# --------------------------------------------------------------------------


def write_avro_dir(df, path: str, avro_schema: dict) -> int:
    """Encode df partition-per-file into `path/part-N.avro`; returns file
    count.  Column order must match the schema's field order."""
    import os

    import pandas as pd

    from moosestack_spark.catalog.avro import write_container

    os.makedirs(path, exist_ok=True)
    fields = [f["name"] for f in avro_schema["fields"]]

    def sink(batches):
        from pyspark import TaskContext

        rows = []
        for pdf in batches:
            for rec in pdf[fields].to_dict("records"):
                rows.append(
                    {
                        k: (v.item() if hasattr(v, "item") else v)
                        for k, v in rec.items()
                    }
                )
        pid = TaskContext.get().partitionId()
        out = os.path.join(path, f"part-{pid:05d}.avro")
        write_container(out, avro_schema, rows, codec="deflate")
        yield pd.DataFrame({"file": [out], "n": [len(rows)]})

    return df.mapInPandas(sink, "file string, n long").count()


def read_avro_dir(spark: SparkSession, path: str, spark_schema: str):
    """Decode every container under `path` through the binaryFile source +
    a per-file Arrow kernel."""
    import pandas as pd

    def decode(batches):
        from moosestack_spark.catalog.avro import read_container

        for pdf in batches:
            for fpath in pdf["path"]:
                local = fpath[len("file:"):] if fpath.startswith("file:") else fpath
                _, records = read_container(local)
                yield pd.DataFrame.from_records(records)

    files = spark.read.format("binaryFile").load(f"{path}/*.avro").select("path")
    return files.mapInPandas(decode, spark_schema)


@query(
    "source_avro_roundtrip",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS bal_cents,
       CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS nations,
       MIN(s_name) AS first_name
FROM supplier
""",
)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier rows written to deflate Avro containers (one per
    partition) by the distributed sink, read back through binaryFile +
    per-file decode, aggregated — exact integer cents, so the roundtrip is
    value-hash-checked against the parquet original."""
    src = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        (F.col("s_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
        F.col("s_name").alias("s_name"),
    )
    schema = {
        "type": "record",
        "name": "supplier",
        "fields": [
            {"name": "s_suppkey", "type": "long"},
            {"name": "s_nationkey", "type": "long"},
            {"name": "bal_cents", "type": "long"},
            {"name": "s_name", "type": "string"},
        ],
    }
    with tempfile.TemporaryDirectory(
        prefix="msk_src_avro_", ignore_cleanup_errors=True
    ) as avro_dir:
        n_files = write_avro_dir(src, avro_dir, schema)
        assert n_files >= 1
        back = read_avro_dir(
            spark, avro_dir,
            "s_suppkey long, s_nationkey long, bal_cents long, s_name string",
        )
        return back.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal_cents").cast("bigint").alias("bal_cents"),
            F.count_distinct("s_nationkey").alias("nations"),
            F.min("s_name").alias("first_name"),
        ).localCheckpoint()


@query(
    "source_iceberg_deletes_read",
    oracle="""
WITH live AS (
    SELECT * FROM supplier
    WHERE ((s_suppkey % 2 = 0
            AND NOT (s_suppkey % 7 = 3)
            AND s_nationkey NOT IN (4, 9))
           OR s_suppkey % 2 = 1)
      AND NOT (s_suppkey % 11 = 5)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS bal_cents,
       CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS nations,
       MIN(s_name) AS first_name
FROM live
""",
)
def source_iceberg_deletes_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 ROW-LEVEL DELETES through the native reader
    (catalog/iceberg_native.py): plant the even-suppkey half of supplier as
    an Iceberg table, then commit (1) a position-delete snapshot
    (s_suppkey % 7 = 3 → spec-sorted (file_path, pos) parquet), (2) an
    equality-delete snapshot (s_nationkey IN (4, 9)), (3) an APPEND of the
    odd-suppkey half — whose rows must survive the earlier equality delete
    because equality deletes apply only to strictly-lower data sequence
    numbers — and (4) a second position delete (s_suppkey % 11 = 5) that
    spans both batches (>= sequence rule).  The reader applies all of it
    as executor-side anti-joins keyed on Spark's parquet
    _metadata.file_path/row_index; the oracle replays the surviving-row
    algebra directly on supplier.  Reference: blocks.py:425-478 delegates
    Iceberg reads to ClickHouse; the delete semantics here follow the
    public Iceberg v2 table spec."""
    from moosestack_spark.catalog.iceberg_native import IcebergNativeTable

    src = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        (F.col("s_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
        F.col("s_name").alias("s_name"),
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_ice_del_", ignore_cleanup_errors=True
    ) as base:
        path = base + "/supplier_ice"
        table = IcebergNativeTable.write(
            src.filter(F.col("s_suppkey") % 2 == 0), path
        )
        table.delete_where("s_suppkey % 7 = 3")
        table.delete_equality(
            spark.createDataFrame([(4,), (9,)], "s_nationkey long")
        )
        IcebergNativeTable.write(
            src.filter(F.col("s_suppkey") % 2 == 1), path, mode="append"
        )
        table.delete_where("s_suppkey % 11 = 5")
        return table.read().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal_cents").cast("bigint").alias("bal_cents"),
            F.count_distinct("s_nationkey").alias("nations"),
            F.min("s_name").alias("first_name"),
        ).localCheckpoint()


@query(
    "source_delta_dv_read",
    oracle="""
WITH live AS (
    SELECT * FROM supplier
    WHERE ((s_suppkey % 2 = 0 AND NOT (s_suppkey % 7 = 3))
           OR s_suppkey % 2 = 1)
      AND NOT (s_suppkey % 11 = 5)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS bal_cents,
       CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS nations,
       MIN(s_name) AS first_name
FROM live
""",
)
def source_delta_dv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake DELETION VECTORS through the native reader
    (catalog/delta_native.py + catalog/roaring.py): plant the even-suppkey
    half of supplier as a Delta table, commit a DV delete (s_suppkey % 7 =
    3 — file-backed "u" descriptor, portable Roaring blobs), APPEND the
    odd half (a delete never touches later data), then a second DV delete
    (s_suppkey % 11 = 5) whose descriptors REPLACE the first file's DV
    with the union.  The reader decodes descriptors executor-side and
    drops rows with one anti-join on parquet _metadata positions; the
    oracle replays the surviving-row algebra.  Formats: delta-io
    PROTOCOL.md deletion vectors + RoaringFormatSpec."""
    from moosestack_spark.catalog.delta_native import DeltaNativeTable

    src = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        (F.col("s_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
        F.col("s_name").alias("s_name"),
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_delta_dv_", ignore_cleanup_errors=True
    ) as base:
        path = base + "/supplier_delta"
        table = DeltaNativeTable.write(
            src.filter(F.col("s_suppkey") % 2 == 0), path
        )
        table.delete_where("s_suppkey % 7 = 3")
        DeltaNativeTable.write(
            src.filter(F.col("s_suppkey") % 2 == 1), path, mode="append"
        )
        table.delete_where("s_suppkey % 11 = 5")
        return table.read().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal_cents").cast("bigint").alias("bal_cents"),
            F.count_distinct("s_nationkey").alias("nations"),
            F.min("s_name").alias("first_name"),
        ).localCheckpoint()


# --------------------------------------------------------------------------
# ClickHouse RowBinaryWithNames wire format (formats.md: little-endian
# fixed-width numerics, LEB128-varint-prefixed UTF-8 strings; WithNames =
# varint column count + name strings header).  Same distributed shape as
# the Avro pair above: per-partition encode in mapInPandas, binaryFile +
# per-file decode back.  Reference surface: ClickHouse ingest/egress
# formats the moose HTTP/CLI paths expose.
# --------------------------------------------------------------------------


def _leb128(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_leb128(buf: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def rowbinary_encode(rows, cols: list[tuple[str, str]]) -> bytes:
    """rows of python values -> RowBinaryWithNames (types: int64, float64,
    string)."""
    import struct as _struct

    out = bytearray(_leb128(len(cols)))
    for name, _ in cols:
        nb = name.encode("utf-8")
        out += _leb128(len(nb)) + nb
    for row in rows:
        for (name, typ), v in zip(cols, row):
            if typ == "int64":
                out += _struct.pack("<q", int(v))
            elif typ == "float64":
                out += _struct.pack("<d", float(v))
            elif typ == "string":
                vb = str(v).encode("utf-8")
                out += _leb128(len(vb)) + vb
            else:
                raise NotImplementedError(f"RowBinary type {typ}")
    return bytes(out)


def rowbinary_decode(buf: bytes, types: list[str]) -> tuple[list[str], list[tuple]]:
    """RowBinaryWithNames -> (column names, rows).  ``types`` supplies the
    column types (the WithNames header carries names only)."""
    import struct as _struct

    ncols, pos = _read_leb128(buf, 0)
    if ncols != len(types):
        raise ValueError(f"RowBinary header has {ncols} cols, expected {len(types)}")
    names = []
    for _ in range(ncols):
        ln, pos = _read_leb128(buf, pos)
        names.append(buf[pos : pos + ln].decode("utf-8"))
        pos += ln
    rows = []
    end = len(buf)
    while pos < end:
        row = []
        for typ in types:
            if typ == "int64":
                row.append(_struct.unpack_from("<q", buf, pos)[0])
                pos += 8
            elif typ == "float64":
                row.append(_struct.unpack_from("<d", buf, pos)[0])
                pos += 8
            elif typ == "string":
                ln, pos = _read_leb128(buf, pos)
                row.append(buf[pos : pos + ln].decode("utf-8"))
                pos += ln
            else:
                raise NotImplementedError(f"RowBinary type {typ}")
        rows.append(tuple(row))
    return names, rows


@query(
    "source_rowbinary_roundtrip",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS bal_cents,
       MIN(s_name) AS first_name,
       MAX(repeat(s_name, CAST(s_suppkey % 40 + 1 AS INT))) AS last_comment
FROM supplier
""",
)
def source_rowbinary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier rows written partition-per-file as RowBinaryWithNames
    (LEB128 string lengths incl. multi-byte varints on long comments),
    read back via binaryFile + per-file decode, aggregated in exact
    integer cents — value-hash-checked against the parquet original."""
    import os

    import pandas as pd

    cols = [
        ("s_suppkey", "int64"),
        ("bal_cents", "int64"),
        ("s_name", "string"),
        ("s_comment", "string"),
    ]
    # the synthetic supplier has no comment column; build a long string
    # (up to 40x name, > 128 bytes) so LEB128 lengths go multi-byte
    src = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long"),
        (F.col("s_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
        "s_name",
        F.expr("repeat(s_name, CAST(s_suppkey % 40 + 1 AS INT))").alias(
            "s_comment"
        ),
    )

    def sink(batches):
        from pyspark import TaskContext

        rows = []
        for pdf in batches:
            rows.extend(map(tuple, pdf.itertuples(index=False)))
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.rowbinary")
        with open(path, "wb") as fh:
            fh.write(rowbinary_encode(rows, cols))
        yield pd.DataFrame({"file": [path], "n": [len(rows)]})

    def decode(batches):
        for pdf in batches:
            for fpath in pdf["path"]:
                local = fpath[len("file:"):] if fpath.startswith("file:") else fpath
                with open(local, "rb") as fh:
                    names, rows = rowbinary_decode(
                        fh.read(), [c[1] for c in cols]
                    )
                assert names == [c[0] for c in cols]
                yield pd.DataFrame(rows, columns=names)

    with tempfile.TemporaryDirectory(
        prefix="msk_rowbin_", ignore_cleanup_errors=True
    ) as out_dir:
        n_files = src.mapInPandas(sink, "file string, n long").count()
        assert n_files >= 1
        files = (
            spark.read.format("binaryFile")
            .load(out_dir + "/*.rowbinary")
            .select("path")
        )
        back = files.mapInPandas(
            decode,
            "s_suppkey long, bal_cents long, s_name string, s_comment string",
        )
        return back.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal_cents").cast("bigint").alias("bal_cents"),
            F.min("s_name").alias("first_name"),
            F.max("s_comment").alias("last_comment"),
        ).localCheckpoint()


@query(
    "source_iceberg_compact_read",
    oracle="""
WITH live AS (
    SELECT * FROM supplier
    WHERE NOT (s_suppkey % 7 = 3) AND s_nationkey NOT IN (2, 11)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS bal_cents,
       CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS nations
FROM live
""",
)
def source_iceberg_compact_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full lake MAINTENANCE pipeline on the native Iceberg layer: plant
    supplier, position-delete, equality-delete, COMPACT (replace snapshot
    materializing the deletes into fresh files — data_files() works again,
    proving no delete files remain), EXPIRE old snapshots (orphan data,
    delete files and manifests physically removed), then read and
    aggregate.  The oracle replays the surviving-row algebra; matching
    values prove the rewrite lost and invented nothing."""
    from moosestack_spark.catalog.iceberg_native import IcebergNativeTable

    src = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        (F.col("s_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_ice_opt_", ignore_cleanup_errors=True
    ) as base:
        path = base + "/supplier_ice"
        table = IcebergNativeTable.write(src.repartition(4), path)
        table.delete_where("s_suppkey % 7 = 3")
        table.delete_equality(
            spark.createDataFrame([(2,), (11,)], "s_nationkey long")
        )
        table.compact(target_partitions=2)
        assert len(table.data_files()) <= 2  # deletes gone, files merged
        table.expire_snapshots(keep_last=1)
        return table.read().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal_cents").cast("bigint").alias("bal_cents"),
            F.count_distinct("s_nationkey").alias("nations"),
        ).localCheckpoint()


@query(
    "source_iceberg_bucket_read",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS sum_cents
FROM orders
WHERE o_orderkey % 3 = 0 AND o_orderkey IN (9, 4002, 29988)
""",
)
def source_iceberg_bucket_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg bucket[N] partition transform end-to-end: orders written
    bucketed by o_orderkey into 8 buckets (murmur3 of the long's
    little-endian bytes per the spec — appendix B vector pinned in
    pytest; at most 8 partitions regardless of key cardinality, the
    high-cardinality answer identity partitioning refuses), then three
    key lookups each read through partition_filter on the SOURCE column —
    the metadata walk hashes the key and opens only that bucket's files
    (asserted in-gate).  The oracle replays the plain IN filter."""
    from moosestack_spark.catalog.iceberg_native import IcebergNativeTable

    # one-third subsample keeps the 8 per-bucket write passes cheap at
    # sf0.1 while still exercising every bucket
    src = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 3 == 0
    ).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_ice_bkt_", ignore_cleanup_errors=True
    ) as base:
        path = base + "/orders_ice"
        table = IcebergNativeTable.write(src, path, bucket_by=("o_orderkey", 8))
        n_dirs = {f.rsplit("/", 1)[0] for f in table.data_files()}
        parts = []
        for key in (9, 4002, 29988):
            pruned = table.data_files(partition_filter={"o_orderkey": key})
            assert 0 < len(pruned) < len(table.data_files()), "no pruning"
            parts.append(
                table.read(partition_filter={"o_orderkey": key}).filter(
                    F.col("o_orderkey") == key
                )
            )
        assert len(n_dirs) <= 8
        out = parts[0].unionByName(parts[1]).unionByName(parts[2])
        return out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        ).localCheckpoint()


@query(
    "source_iceberg_multifield_read",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS sum_cents
FROM orders
WHERE o_orderdate < TIMESTAMP '1995-04-01'
  AND o_orderdate >= TIMESTAMP '1995-02-01'
  AND o_orderdate < TIMESTAMP '1995-03-01'
  AND o_custkey IN (28, 29)
""",
)
def source_iceberg_multifield_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field Iceberg partition spec end-to-end — the shape real
    tables use: orders (first three months) written with
    spec_by=[(month, o_orderdate), (bucket[2], o_custkey)], then two
    (month, custkey) lookups each read through partition_filter on BOTH
    source columns — the metadata walk month-ordinals the date, murmur3s
    the key, and opens only the files of that one (month, bucket)
    combination (pruning asserted in-gate).  The oracle replays the plain
    filters; the re-applied exact predicate makes values bucket-independent
    the same way source_iceberg_bucket_read's is."""
    import datetime as _dt

    from moosestack_spark.catalog.iceberg_native import IcebergNativeTable

    src = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-04-01"
    ).select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_orderdate"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_ice_mf_", ignore_cleanup_errors=True
    ) as base:
        path = base + "/orders_ice"
        table = IcebergNativeTable.write(
            src,
            path,
            spec_by=[("month", "o_orderdate"), ("bucket[2]", "o_custkey")],
        )
        spec = table.metadata()["partition-specs"][0]["fields"]
        assert [f["transform"] for f in spec] == ["month", "bucket[2]"]
        all_files = table.data_files()
        feb = _dt.date(1995, 2, 15)
        parts = []
        for key in (28, 29):
            flt = {"o_orderdate": feb, "o_custkey": key}
            pruned = table.data_files(partition_filter=flt)
            assert 0 < len(pruned) < len(all_files), "no multi-field pruning"
            parts.append(
                table.read(partition_filter=flt).filter(
                    (F.col("o_custkey") == key)
                    & (F.col("o_orderdate") >= "1995-02-01")
                    & (F.col("o_orderdate") < "1995-03-01")
                )
            )
        return parts[0].unionByName(parts[1]).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        ).localCheckpoint()


@query(
    "source_iceberg_clustered_read",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS sum_cents
FROM orders
WHERE o_orderkey % 5 = 0
  AND o_custkey BETWEEN 100 AND 200
  AND o_orderkey BETWEEN 1000 AND 100000
""",
)
def source_iceberg_clustered_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-clustered Iceberg write end-to-end (the Delta OPTIMIZE
    ZORDER / Iceberg rewrite_data_files sort-order shape): orders (1/5
    sample) written unpartitioned but cluster_by=(o_custkey, o_orderkey),
    so each data file's parquet min/max covers a small rectangle of BOTH
    keys and the 2-D range predicate prunes at row-group level
    scan-side.  The in-gate assertion pins that the filtered columns'
    pushed filters reach the parquet scan; the oracle replays the plain
    predicate — clustering must change the LAYOUT only."""
    from moosestack_spark.catalog.iceberg_native import IcebergNativeTable

    src = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 5 == 0
    ).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_ice_clus_", ignore_cleanup_errors=True
    ) as base:
        path = base + "/orders_ice"
        table = IcebergNativeTable.write(
            path=path, df=src, cluster_by=("o_custkey", "o_orderkey"),
            cluster_files=8,
        )
        out = table.read().filter(
            F.col("o_custkey").between(100, 200)
            & F.col("o_orderkey").between(1000, 100000)
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "o_custkey" in plan.split(
            "PushedFilters"
        )[1][:200], "range predicate did not reach the parquet scan"
        return out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        ).localCheckpoint()


@query(
    "source_delta_mapped_read",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS bal_cents,
       MIN(s_name) AS first_name
FROM supplier
WHERE NOT (s_suppkey % 9 = 2)
""",
)
def source_delta_mapped_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta COLUMN MAPPING end-to-end: supplier planted as a mapped table
    (physical names col-1/col-2/col-3, logical names restored from the
    schemaString field metadata, protocol 2), a DV delete issued against
    a LOGICAL column name, then read + aggregate.  The oracle replays the
    surviving rows from the unmapped original."""
    import json as _json
    import os as _os

    from moosestack_spark.catalog.delta_native import DeltaNativeTable

    src = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("col-1"),
        (F.col("s_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("col-2"),
        F.col("s_name").alias("col-3"),
    )
    with tempfile.TemporaryDirectory(
        prefix="msk_delta_map_", ignore_cleanup_errors=True
    ) as base:
        path = base + "/supplier_mapped"
        _os.makedirs(_os.path.join(path, "_delta_log"))
        src.coalesce(2).write.mode("overwrite").parquet(
            _os.path.join(path, "b0")
        )
        adds = [
            {"add": {"path": f"b0/{f}", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}}
            for f in sorted(_os.listdir(_os.path.join(path, "b0")))
            if f.endswith(".parquet")
        ]
        fields = [
            {"name": "s_suppkey", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-1",
                          "delta.columnMapping.id": 1}},
            {"name": "bal_cents", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-2",
                          "delta.columnMapping.id": 2}},
            {"name": "s_name", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-3",
                          "delta.columnMapping.id": 3}},
        ]
        actions = [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "mapped-sup",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {"type": "struct", "fields": fields}
                ),
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "name"},
            }},
            *adds,
        ]
        with open(
            _os.path.join(path, "_delta_log", f"{0:020d}.json"), "w"
        ) as fh:
            for a in actions:
                fh.write(_json.dumps(a) + "\n")
        table = DeltaNativeTable(spark, path)
        table.delete_where("s_suppkey % 9 = 2")  # logical-name predicate
        return table.read().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal_cents").cast("bigint").alias("bal_cents"),
            F.min("s_name").alias("first_name"),
        ).localCheckpoint()


@query(
    "source_iceberg_rest_read",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS bal_cents,
       MIN(s_name) AS first_name
FROM supplier
""",
)
def source_iceberg_rest_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg REST-catalog protocol end-to-end (catalog/iceberg_rest.py;
    reference delegates catalog access to ClickHouse IcebergS3,
    py-moose-lib blocks.py:425-478): a loopback REST server (bearer-token
    auth) is stood up, the even-suppkey half of supplier is staged with
    the native writer and REGISTERED (RegisterTableRequest), the odd half
    is APPENDED through the commit protocol (assert-ref-snapshot-id +
    add-snapshot/set-snapshot-ref, server-authored metadata), a STALE
    commit is replayed and must 409 (CommitFailedException), and the
    final read resolves the table by (namespace, name) through the
    catalog.  The oracle is the full supplier aggregate — the catalog
    protocol must change WHERE metadata lives, never the rows."""
    from moosestack_spark.catalog.iceberg_rest import (
        CommitConflict,
        IcebergRestCatalog,
        IcebergRestCatalogServer,
        IcebergRestTable,
    )

    src = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        F.col("s_name"),
        (F.col("s_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    server = IcebergRestCatalogServer(prefix="lake", token="gate-token")
    with tempfile.TemporaryDirectory(
        prefix="msk_ice_rest_", ignore_cleanup_errors=True
    ) as base:
        try:
            port = server.start()
            cat = IcebergRestCatalog(f"http://127.0.0.1:{port}", token="gate-token")
            cat.create_namespace("tpch")
            handle = IcebergRestTable.create(
                cat, "tpch", "supplier", src.filter("s_suppkey % 2 = 0"),
                base + "/supplier_ice",
            )
            loaded_v1 = cat.load_table("tpch", "supplier")
            handle.append(src.filter("s_suppkey % 2 = 1"))
            # replaying a commit based on the PRE-append snapshot must conflict
            stale_reqs = [{
                "type": "assert-ref-snapshot-id", "ref": "main",
                "snapshot-id": loaded_v1["metadata"]["current-snapshot-id"],
            }]
            try:
                cat.commit_table("tpch", "supplier", stale_reqs, [])
                raise AssertionError("stale commit did not 409")
            except CommitConflict:
                pass
            assert cat.list_tables("tpch") == ["supplier"]
            return handle.read(spark).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("bal_cents").cast("bigint").alias("bal_cents"),
                F.min("s_name").alias("first_name"),
            ).localCheckpoint()
        finally:
            server.stop()


@query(
    "source_iceberg_rest_timetravel",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS bal_cents
FROM supplier WHERE s_suppkey % 2 = 0
""",
)
def source_iceberg_rest_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel THROUGH the REST catalog: after an append commit, read
    the FIRST snapshot by id from the catalog-served metadata — the
    server-authored add-snapshot history must retain every prior snapshot
    (readers pin analysis-time views while writers commit).  The oracle
    replays only the pre-append half."""
    from moosestack_spark.catalog.iceberg_rest import (
        IcebergRestCatalog,
        IcebergRestCatalogServer,
        IcebergRestTable,
    )

    src = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        (F.col("s_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    server = IcebergRestCatalogServer(prefix="lake")
    with tempfile.TemporaryDirectory(
        prefix="msk_ice_rest_tt_", ignore_cleanup_errors=True
    ) as base:
        try:
            server.start()
            cat = IcebergRestCatalog(f"http://127.0.0.1:{server.port}")
            cat.create_namespace("tpch")
            handle = IcebergRestTable.create(
                cat, "tpch", "supplier", src.filter("s_suppkey % 2 = 0"),
                base + "/supplier_ice",
            )
            first_snap = handle.snapshots()[0]["snapshot-id"]
            handle.append(src.filter("s_suppkey % 2 = 1"))
            snaps = handle.snapshots()
            assert len(snaps) == 2 and snaps[0]["snapshot-id"] == first_snap
            return handle.read(spark, snapshot_id=first_snap).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("bal_cents").cast("bigint").alias("bal_cents"),
            ).localCheckpoint()
        finally:
            server.stop()


@query(
    "source_iceberg_rest_delete",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS bal_cents
FROM supplier WHERE NOT (s_suppkey % 3 = 1)
""",
)
def source_iceberg_rest_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level delete THROUGH the REST commit protocol: supplier
    registered, a position-delete snapshot staged against the
    catalog-pinned metadata and committed (add-snapshot carrying a
    content=1 manifest), then the catalog-resolved read applies the
    deletes.  The oracle keeps the surviving rows."""
    from moosestack_spark.catalog.iceberg_rest import (
        IcebergRestCatalog,
        IcebergRestCatalogServer,
        IcebergRestTable,
    )

    src = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        (F.col("s_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    server = IcebergRestCatalogServer(prefix="lake")
    with tempfile.TemporaryDirectory(
        prefix="msk_ice_rest_del_", ignore_cleanup_errors=True
    ) as base:
        try:
            server.start()
            cat = IcebergRestCatalog(f"http://127.0.0.1:{server.port}")
            cat.create_namespace("tpch")
            handle = IcebergRestTable.create(
                cat, "tpch", "supplier", src, base + "/supplier_ice"
            )
            loc_before = cat.load_table("tpch", "supplier")["metadata-location"]
            n = handle.delete_where(spark, "s_suppkey % 3 = 1")
            assert n > 0
            loc_after = cat.load_table("tpch", "supplier")["metadata-location"]
            assert loc_after != loc_before and "rest-metadata" in loc_after
            assert handle.delete_where(spark, "s_suppkey < 0") == 0  # no-op path
            return handle.read(spark).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("bal_cents").cast("bigint").alias("bal_cents"),
            ).localCheckpoint()
        finally:
            server.stop()


@query(
    "source_iceberg_rest_txn",
    oracle="""
SELECT 'a' AS src, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS bal_cents
FROM supplier
UNION ALL
SELECT 'b' AS src, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS bal_cents
FROM supplier
""",
)
def source_iceberg_rest_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table TRANSACTION through the REST commit protocol
    (apache/iceberg open-api `POST /v1/{prefix}/transactions/commit`;
    catalog/iceberg_rest.py): two tables are created with complementary
    halves of supplier, then ONE atomic transaction appends each table's
    missing half (assert-ref-snapshot-id on both).  A stale transaction
    replay must 409 with NEITHER table advancing (all-or-nothing), and
    the read-after-commit sees both tables holding the full supplier set
    — the oracle is the full aggregate twice, tagged per table."""
    from moosestack_spark.catalog.iceberg_rest import (
        CommitConflict,
        IcebergRestCatalog,
        IcebergRestCatalogServer,
        IcebergRestTable,
        multi_table_append,
    )

    src = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        (F.col("s_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    server = IcebergRestCatalogServer(prefix="lake")
    with tempfile.TemporaryDirectory(
        prefix="msk_ice_rest_txn_", ignore_cleanup_errors=True
    ) as base:
        try:
            server.start()
            cat = IcebergRestCatalog(f"http://127.0.0.1:{server.port}")
            cat.create_namespace("tpch")
            cat.update_namespace_properties("tpch", updates={"owner": "gate"})
            ha = IcebergRestTable.create(
                cat, "tpch", "sup_a", src.filter("s_suppkey % 2 = 0"),
                base + "/sup_a",
            )
            hb = IcebergRestTable.create(
                cat, "tpch", "sup_b", src.filter("s_suppkey % 2 = 1"),
                base + "/sup_b",
            )
            la = cat.load_table("tpch", "sup_a")
            multi_table_append(
                [
                    (ha, src.filter("s_suppkey % 2 = 1")),
                    (hb, src.filter("s_suppkey % 2 = 0")),
                ]
            )
            # replaying a transaction based on the PRE-txn snapshot of sup_a
            # must 409 and advance NEITHER pointer (all-or-nothing)
            lb_now = cat.load_table("tpch", "sup_b")["metadata-location"]
            stale = [
                (
                    "tpch", "sup_a",
                    [{
                        "type": "assert-ref-snapshot-id", "ref": "main",
                        "snapshot-id": la["metadata"]["current-snapshot-id"],
                    }],
                    [],
                ),
                ("tpch", "sup_b", [], []),
            ]
            try:
                cat.commit_transaction(stale)
                raise AssertionError("stale transaction did not 409")
            except CommitConflict:
                pass
            assert cat.load_table("tpch", "sup_b")["metadata-location"] == lb_now
            assert cat.load_namespace("tpch")["properties"]["owner"] == "gate"
            agg = lambda h, tag: h.read(spark).agg(  # noqa: E731
                F.lit(tag).alias("src"),
                F.count(F.lit(1)).alias("n"),
                F.sum("bal_cents").cast("bigint").alias("bal_cents"),
            ).select("src", "n", "bal_cents")
            return agg(ha, "a").unionByName(agg(hb, "b")).localCheckpoint()
        finally:
            server.stop()
