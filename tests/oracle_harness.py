"""Local mirror of the driver's correctness gate: run each registered Spark
query and its DuckDB oracle side-by-side, sort columns by name, sort rows,
compare values EXACTLY (stricter than any value-hash).
"""

from __future__ import annotations

import math
from typing import Any

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from moosestack_spark.session import materialization_scope
from moosestack_spark.tables import TABLE_NAMES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_cell(v: Any) -> Any:
    import numpy as np

    if v is None:
        return None
    if isinstance(v, np.ndarray):
        return tuple(_norm_cell(x) for x in v.tolist())
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # exact double text
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_norm_cell(v) for v in row))
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


def compare_query(
    spark: SparkSession, name: str, fn, oracle: str, sf_dir: str
) -> tuple[bool, str]:
    from pyspark.sql.types import ArrayType, MapType, StructType

    with materialization_scope(spark):
        df = fn(spark, sf_dir)
        # Driver-canon contract: the driver sorts result rows with pandas
        # sort_values, which raises on list/dict cells — an oracled gate whose
        # schema contains a complex type records ERR regardless of correctness
        # (r4: agg_group_array_sorted).  Serialize arrays/maps to strings on
        # both sides (registry.canon_arrays) instead of emitting them.
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            return False, (
                f"driver-canon contract violation: complex-typed output columns "
                f"{complex_cols} (serialize with registry.canon_arrays)"
            )
        sdf = df.toPandas()
    con = duckdb_conn(sf_dir)
    try:
        odf = con.execute(oracle).df()
    finally:
        con.close()
    if sorted(sdf.columns) != sorted(odf.columns):
        return False, f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    if len(sdf) != len(odf):
        return False, f"row counts differ: spark={len(sdf)} oracle={len(odf)}"
    s_rows = normalize(sdf)
    o_rows = normalize(odf)
    if s_rows != o_rows:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
        ][:3]
        return False, f"values differ; first diffs: {diffs}"
    return True, f"ok ({len(sdf)} rows)"
