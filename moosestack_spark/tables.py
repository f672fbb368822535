"""Loaders for the generated TPC-H-ish data tables (see TESTDATA.md).

Each table's shape is declared once, in ``SCHEMAS``.  ``t(spark, sf_dir,
name)`` reads ``{sf_dir}/{name}.parquet`` with
``spark.read.schema(declared)``, so Spark runs no schema-inference job (a
footer read over py4j) on any call.  Before that, ``checked_schema`` reads the
file's parquet footer with pyarrow, which needs no py4j and no Spark job.  It
compares column names and Arrow types with the declaration, counting
``string`` and ``large_string`` as equal, and raises ``ValueError`` naming the
table, the column and both types on a mismatch.  Nothing is cached: the check
runs on every call, so a rewritten file is judged as it is now.

``events.ts`` has shipped in two layouts, TIMESTAMP(NANOS) and
TIMESTAMP(MICROS).  Its declared type (``bigint`` under the nanosAsLong conf,
or ``timestamp_ntz``) is chosen from the footer just read, and
``normalize_event_ts`` turns either into a microsecond timestamp.

Every table is still a plain parquet scan: Catalyst pushes filters and prunes
columns into it, which is the plan shape we want at 100 TB (verify with
``df.explain('formatted')``: PushedFilters + ReadSchema).  The streaming
sources (``streaming/runner.Replay.source``) take their schema from here too.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

_TYPES = {
    "int": IntegerType(),
    "bigint": LongType(),
    "double": DoubleType(),
    "string": StringType(),
    "timestamp_ntz": TimestampNTZType(),
    "array<float>": ArrayType(FloatType()),
}


def _struct(ddl: str) -> StructType:
    """``"a int, b string"`` -> a StructType of nullable fields (Spark reads
    every file-source column as nullable)."""
    return StructType(
        [StructField(n, _TYPES[t]) for n, t in (c.split() for c in ddl.split(","))]
    )


SCHEMAS: dict[str, StructType] = {
    "region": _struct("r_regionkey int, r_name string"),
    "nation": _struct("n_nationkey int, n_name string, n_regionkey int"),
    "customer": _struct(
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string"
    ),
    "supplier": _struct(
        "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
    ),
    "part": _struct(
        "p_partkey bigint, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double"
    ),
    "orders": _struct(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": _struct(
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp_ntz"
    ),
    # ts: the MICROS layout; checked_schema swaps in bigint for NANOS
    "events": _struct(
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string,"
        " value double, props string"
    ),
    "documents": _struct(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ),
    "embeddings": _struct("vec_id bigint, embedding array<float>, label int"),
}

TABLE_NAMES = tuple(SCHEMAS)

# Dimension tables small enough to broadcast at any realistic SF.  region and
# nation are fixed-size in TPC-H; customer/supplier/part grow with SF but stay
# orders of magnitude below the fact tables — whether they broadcast is left
# to AQE + autoBroadcastJoinThreshold rather than forced.
ALWAYS_BROADCAST = {"region", "nation"}

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _footer(path: str) -> dict[str, pa.DataType]:
    """Column name -> Arrow type as Spark reads it, from the parquet footer
    at ``path`` (for a directory, its first part file): large_string as
    string, TIMESTAMP(NANOS) as int64 (the nanosAsLong conf) and INT96 as
    Spark's UTC timestamp."""
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not parts:
            raise FileNotFoundError(f"{path}: no parquet part files")
        path = os.path.join(path, parts[0])
    schema = pq.read_metadata(path).schema
    int96 = {
        schema.column(i).path
        for i in range(len(schema))
        if schema.column(i).physical_type == "INT96"
    }
    types = {}
    for f in schema.to_arrow_schema():
        t = f.type
        if f.name in int96:
            t = pa.timestamp("us", tz="UTC")
        elif pa.types.is_large_string(t):
            t = pa.string()
        elif pa.types.is_timestamp(t) and t.unit == "ns":
            t = pa.int64()
        types[f.name] = t
    return types


def checked_schema(name: str, path: str) -> StructType:
    """The declared schema of data table ``name``, checked against the
    footer of the parquet file (or part-file directory) at ``path``, with
    ``events.ts`` typed as stored.  Raises KeyError for an unknown table and
    ValueError naming the column and both types when the file does not
    match the declaration."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    declared = SCHEMAS[name]
    stored = _footer(path)
    if name == "events" and stored.get("ts") == pa.int64():
        declared = StructType(
            [StructField("ts", LongType()) if f.name == "ts" else f for f in declared]
        )
    for want in to_arrow_schema(declared):
        got = stored.pop(want.name, None)
        if got is None:
            raise ValueError(
                f"table {name}: column {want.name!r} (declared {want.type}) "
                f"is missing from {path}"
            )
        if not got.equals(want.type):
            raise ValueError(
                f"table {name}: column {want.name!r} is {got} in {path}, "
                f"declared {want.type}"
            )
    if stored:
        col, got = next(iter(stored.items()))
        raise ValueError(f"table {name}: column {col!r} ({got}) in {path} is not declared")
    return declared


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    schema = checked_schema(name, path)
    if name == "events":
        spark.conf.set(_NANOS_AS_LONG, "true")
        return normalize_event_ts(spark.read.schema(schema).parquet(path))
    return spark.read.schema(schema).parquet(path)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a microsecond timestamp whatever the storage
    layout.  The driver has shipped events.parquet in two layouts so far:
    TIMESTAMP(NANOS) (read as int64 via the nanosAsLong legacy conf — needs a
    ns->us floor-truncate matching DuckDB) and TIMESTAMP(MICROS) (read as
    timestamp_ntz — already what we want).  Branch on the schema's type so
    either layout works; callers set the nanosAsLong conf *before* building
    `df` so the nanos layout doesn't error at scan time.  Works on both batch
    and streaming DataFrames (pure projection, analysis-time only)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        return df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    if ts_type == "timestamp_ntz":
        # Watermarks/windows require TIMESTAMP (with-tz).  Session tz is
        # pinned to UTC (session.py:30) so the cast preserves wall-clock
        # values and date_format output stays identical to the NTZ batch path.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, only: Sequence[str] | None = None
) -> None:
    """Register tables as temp views (for the spark.sql surface).  Pass
    `only` to register just the tables a query touches: each registration
    costs a pyarrow footer check and a py4j call, though no Spark job."""
    for name in only if only is not None else TABLE_NAMES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)
