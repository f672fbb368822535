"""MergeTree-engine read semantics as deterministic dedup/agg-on-read views.

The reference maps each table to a ClickHouse engine whose merge-time
semantics (dedup, summation, sign-collapse) are EVENTUAL — queries may see
pre-merge duplicates (py-moose-lib/moose_lib/blocks.py:8-116 defines the
engine configs; DDL emission apps/framework-cli/src/.../queries.rs:3097+).

Spark-first mapping (SURVEY.md §1.4): storage is append-only Parquet; the
engine semantics are applied AT READ TIME, deterministically — strictly more
consistent than ClickHouse's merge-eventually behavior.

Scale notes: every view here is one shuffle on the engine's key columns
(window or groupBy), the same cost ClickHouse pays at merge; at 100 TB the
key-partitioned window scales out per key-group and AQE splits skewed keys.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _orderable(dtype) -> bool:
    """Whether Spark can sort / struct-compare this type (maps cannot be
    ordered or grouped; arrays/structs are orderable iff their element and
    field types are)."""
    from pyspark.sql import types as st

    if isinstance(dtype, st.MapType):
        return False
    if isinstance(dtype, st.ArrayType):
        return _orderable(dtype.elementType)
    if isinstance(dtype, st.StructType):
        return all(_orderable(f.dataType) for f in dtype.fields)
    return True


def split_orderable(df: DataFrame, cols: Sequence[str]) -> tuple[list, list]:
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    ordp = [c for c in cols if _orderable(dtypes[c])]
    unord = [c for c in cols if not _orderable(dtypes[c])]
    return ordp, unord


def replacing_latest(
    df: DataFrame,
    keys: Sequence[str],
    version_col: Optional[str] = None,
    is_deleted_col: Optional[str] = None,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """ReplacingMergeTree(ver[, is_deleted]) read view (blocks.py:51-64).

    Keep one row per key: the max `version_col` (insert order is not
    observable in Parquet, so a version column — or explicit tiebreakers —
    is required for determinism).  Rows whose surviving version has
    is_deleted=1 are dropped (tombstone semantics).
    """
    order = []
    if version_col:
        order.append(F.col(version_col).desc())
    for tb in tiebreakers:
        order.append(F.col(tb).desc())
    if is_deleted_col:
        # A version tie between a live row and its tombstone must resolve
        # deterministically to the LIVE row (ascending: 0 before 1);
        # otherwise the trailing is_deleted filter silently drops the key
        # whenever the tombstone happens to win the tie.
        order.append(F.col(is_deleted_col).asc())
    if not order:
        raise ValueError(
            "replacing_latest needs version_col or tiebreakers for a "
            "deterministic survivor (Parquet has no insert-order)"
        )
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    if is_deleted_col:
        out = out.filter(F.col(is_deleted_col) == 0)
    return out


def summing_rollup(
    df: DataFrame, keys: Sequence[str], sum_cols: Sequence[str]
) -> DataFrame:
    """SummingMergeTree(columns) read view (blocks.py:75-82): rows with equal
    key summed; non-key non-sum columns are dropped (CH keeps an arbitrary
    value for them — we drop rather than expose nondeterminism)."""
    aggs = [F.sum(F.col(c)).alias(c) for c in sum_cols]
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def collapsing_resolve(
    df: DataFrame, keys: Sequence[str], sign_col: str
) -> DataFrame:
    """CollapsingMergeTree(sign) read view (blocks.py:86-97).

    A -1 row cancels the state row it COPIES (the CH contract: cancel rows
    carry the cancelled row's values), so cancellation nets sign per
    full-row identity — keys + payload content — not per key.  Keys keep
    the content-max among their UNCANCELLED state rows, surfaced with
    sign=+1.  Map-typed payload participates in the identity via its JSON
    text (maps cannot be grouped or ordered in Spark) and rides along the
    winning row.
    """
    payload = [c for c in df.columns if c not in keys and c != sign_col]
    if not payload:
        return (
            df.groupBy(*[F.col(k) for k in keys])
            .agg(F.sum(F.col(sign_col)).alias("__net"))
            .filter(F.col("__net") > 0)
            .drop("__net")
            .withColumn(sign_col, F.lit(1))
        )
    ordp, unord = split_orderable(df, payload)
    work = df
    jcols = []
    for c in unord:
        jc = f"__j_{c}"
        work = work.withColumn(jc, F.to_json(F.col(c)))
        jcols.append(jc)
    ident = [*keys, *ordp, *jcols]
    per_row = (
        work.groupBy(*[F.col(c) for c in ident])
        .agg(
            F.sum(F.col(sign_col)).alias("__net"),
            *[F.first(F.col(c)).alias(c) for c in unord],
        )
        .filter(F.col("__net") > 0)
    )
    order = [F.col(c).desc() for c in ordp] + [F.col(c).desc() for c in jcols]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        per_row.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *[F.col(k) for k in keys],
            F.lit(1).alias(sign_col),
            *[F.col(c) for c in ordp],
            *[F.col(c) for c in unord],
        )
    )


def versioned_collapsing_resolve(
    df: DataFrame, keys: Sequence[str], sign_col: str, version_col: str
) -> DataFrame:
    """VersionedCollapsingMergeTree (blocks.py:101-116): cancellation nets
    sign per (keys, version, payload content); the survivor is the
    uncancelled row with the max version (content tiebreak within a
    version), surfaced with sign=+1."""
    payload = [
        c for c in df.columns if c not in keys and c not in (sign_col, version_col)
    ]
    ordp, unord = split_orderable(df, payload)
    work = df
    jcols = []
    for c in unord:
        jc = f"__j_{c}"
        work = work.withColumn(jc, F.to_json(F.col(c)))
        jcols.append(jc)
    ident = [*keys, version_col, *ordp, *jcols]
    per_row = (
        work.groupBy(*[F.col(c) for c in ident])
        .agg(
            F.sum(F.col(sign_col)).alias("__net"),
            *[F.first(F.col(c)).alias(c) for c in unord],
        )
        .filter(F.col("__net") > 0)
    )
    order = [F.col(version_col).desc()] + [F.col(c).desc() for c in ordp] + [
        F.col(c).desc() for c in jcols
    ]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        per_row.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *[F.col(k) for k in keys],
            F.col(version_col),
            F.lit(1).alias(sign_col),
            *[F.col(c) for c in ordp],
            *[F.col(c) for c in unord],
        )
    )
