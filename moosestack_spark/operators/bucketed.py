"""Bucketed tables: pre-shuffled layout for co-located joins.

The 100 TB lever the brief calls out directly: two fact tables bucketed on
the same key with the same bucket count join WITHOUT a shuffle — the
exchange happened once at write time and every subsequent join reuses it.
On a real lake this is how the orders⋈customer / lineitem⋈orders joins stop
being the nightly-pipeline bottleneck: the write pays `n_buckets` hashed
output files per partition, each join after that is a per-bucket sort-merge
with zero network.

Spark specifics this module encodes:
- `bucketBy` requires `saveAsTable` (bucket metadata lives in the session
  catalog, not in the parquet footer), so tables land in a catalog database
  whose LOCATION we pin explicitly — re-runnable and side-effect-contained.
- both sides must have the SAME bucket count; otherwise Spark shuffles the
  mismatched side (tested).
- `spark.sql.sources.bucketing.enabled` is true by default; the no-exchange
  plan shape is pinned in tests/test_bucketed.py with broadcast disabled so
  the test proves bucketing (not broadcasting) removed the exchange.

Reference parity: ClickHouse co-locates by sharding key at insert time
(the reference's distributed tables); bucketed parquet is the lake-native
equivalent of that decision.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moosestack_spark.operators._determinism import dsum, sql_dsum
from moosestack_spark.registry import query
from moosestack_spark.tables import t

DEFAULT_BUCKETS = 8


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = DEFAULT_BUCKETS,
    sort: bool = True,
) -> None:
    """Persist df hash-bucketed (and optionally sorted) by key.  Sorting
    within buckets lets the join skip its per-task sort too."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def ensure_bucket_db(spark: SparkSession, name: str = "bucket_demo") -> str:
    """A catalog database with a FRESH throwaway LOCATION per session so
    bucketed tables never land in the repo working directory and a new
    session never trips over a stale location from a previous run
    (saveAsTable refuses to overwrite an on-disk path its catalog doesn't
    own: LOCATION_ALREADY_EXISTS).  The cache lives ON the session object —
    an id(spark)-keyed dict would false-hit when CPython reuses a dead
    session's object id.  The location holds copies of the bucketed
    tables, so it is deleted when the process exits."""
    cache = getattr(spark, "_msk_bucket_dbs", None)
    if cache is None:
        cache = set()
        spark._msk_bucket_dbs = cache
    if name not in cache:
        loc = tempfile.mkdtemp(prefix=f"msk_{name}_")
        atexit.register(shutil.rmtree, loc, ignore_errors=True)
        os.rmdir(loc)  # CREATE DATABASE wants to own the directory
        spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
        spark.sql(f"CREATE DATABASE {name} LOCATION '{loc}'")
        cache.add(name)
    return name


@query(
    "join_bucketed_colocated",
    oracle=f"""
SELECT
  c.c_nationkey,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  {sql_dsum('o.o_totalprice')} AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
""",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈customer through same-key same-count bucketed tables.  The
    oracle is the plain join — bucketing must be invisible to results,
    only to the physical plan (no-exchange shape pinned in
    tests/test_bucketed.py)."""
    db = ensure_bucket_db(spark)
    # write each (sf_dir, table) once per session: repeated runs measure
    # the co-located join, not the write ("the write pays once")
    written = getattr(spark, "_msk_bucketed_written", None)
    if written is None:
        written = set()
        spark._msk_bucketed_written = written
    if sf_dir not in written:
        write_bucketed(t(spark, sf_dir, "orders"), f"{db}.orders_b", "o_custkey")
        write_bucketed(
            t(spark, sf_dir, "customer"), f"{db}.customer_b", "c_custkey"
        )
        written.clear()  # one sf_dir's tables live at a time
        written.add(sf_dir)
    o = spark.table(f"{db}.orders_b")
    c = spark.table(f"{db}.customer_b")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )
