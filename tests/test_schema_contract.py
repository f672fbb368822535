"""Testdata schema contract.

The driver regenerated events.parquet between rounds 1 and 2, silently
changing ts from TIMESTAMP(NANOS) (read as int64 via the nanosAsLong legacy
conf) to timestamp[us] — which broke three streaming queries at the
correctness gate instead of at test time.  The table shapes are declared
once, in ``tables.SCHEMAS``, and ``tables.t()`` checks each file's footer
against them on every read.  These tests pin that every shipped table
matches its declaration (column order included), that the declaration is
what Spark would infer, and that a drifted file fails at read time.

`ts` is special-cased: both layouts the driver has ever shipped are
accepted, because tables.normalize_event_ts handles either.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from moosestack_spark import tables

SF_DIRS = [
    d
    for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    if os.path.isdir(d)
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", sorted(tables.SCHEMAS))
def test_table_schema_matches_manifest(sf_dir: str, table: str) -> None:
    path = f"{sf_dir}/{table}.parquet"
    actual = [f.name for f in pq.read_schema(path)]
    assert actual == tables.SCHEMAS[table].names, (
        f"{table} column set/order drifted: {actual}"
    )
    # raises naming the column on a dtype drift; if the testdata was
    # regenerated, audit every reader of the column (see
    # tables.normalize_event_ts for the events.ts case)
    tables.checked_schema(table, path)


@pytest.mark.parametrize("table", sorted(tables.SCHEMAS))
def test_declared_schema_is_what_spark_infers(spark, sf_dir, table):
    """A declared read is the inferred read: same schema, so every plan and
    oracle hash is unchanged."""
    path = f"{sf_dir}/{table}.parquet"
    inferred = spark.read.parquet(path)
    if table == "events":
        inferred = tables.normalize_event_ts(inferred)
    assert tables.t(spark, sf_dir, table).schema == inferred.schema


def _rewrite(src_dir, dst_dir, name, fn) -> None:
    pq.write_table(fn(pq.read_table(f"{src_dir}/{name}.parquet")), f"{dst_dir}/{name}.parquet")


def test_drifted_column_type_fails_at_read(spark, sf_dir, tmp_path):
    def as_string(tb):
        i = tb.schema.get_field_index("o_totalprice")
        return tb.set_column(i, "o_totalprice", tb.column(i).cast(pa.string()))

    _rewrite(sf_dir, tmp_path, "orders", as_string)
    with pytest.raises(ValueError, match=r"orders.*'o_totalprice' is string.*declared double"):
        tables.t(spark, str(tmp_path), "orders")


def test_missing_column_fails_at_read(spark, sf_dir, tmp_path):
    _rewrite(sf_dir, tmp_path, "orders", lambda tb: tb.drop_columns(["o_totalprice"]))
    with pytest.raises(ValueError, match=r"orders.*'o_totalprice'.*missing"):
        tables.t(spark, str(tmp_path), "orders")


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_read_in_both_ts_layouts(spark, sf_dir, tmp_path, unit):
    """TIMESTAMP(NANOS) reads as bigint and TIMESTAMP(MICROS) as
    timestamp_ntz; both normalize to the same microsecond timestamps."""
    def with_unit(tb):
        i = tb.schema.get_field_index("ts")
        return tb.set_column(i, "ts", tb.column(i).cast(pa.timestamp(unit)))

    _rewrite(sf_dir, tmp_path, "events", with_unit)
    stored = tables.checked_schema("events", f"{tmp_path}/events.parquet")
    assert stored["ts"].dataType.simpleString() == {"ns": "bigint", "us": "timestamp_ntz"}[unit]
    got, want = tables.t(spark, str(tmp_path), "events"), tables.t(spark, sf_dir, "events")
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_int96_events_ts_fails_at_read(spark, sf_dir, tmp_path):
    """Spark's default INT96 timestamps read as a UTC timestamp, which is
    neither ts layout: the check must say so, not the scan."""
    pq.write_table(pq.read_table(f"{sf_dir}/events.parquet"), tmp_path / "events.parquet",
                   use_deprecated_int96_timestamps=True)
    with pytest.raises(ValueError, match=r"events.*'ts' is timestamp\[us, tz=UTC\]"):
        tables.t(spark, str(tmp_path), "events")


def test_part_file_directory_is_checked(spark, sf_dir, tmp_path):
    """A ``{name}.parquet`` directory is checked through its first part."""
    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    parts = tmp_path / "orders.parquet"
    parts.mkdir()
    pq.write_table(orders, parts / "part-1.parquet")
    assert tables.t(spark, str(tmp_path), "orders").count() == orders.num_rows
    pq.write_table(orders.drop_columns(["o_orderpriority"]), parts / "part-0.parquet")
    with pytest.raises(ValueError, match="'o_orderpriority'"):
        tables.t(spark, str(tmp_path), "orders")
