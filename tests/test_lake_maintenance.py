"""Lake-format maintenance: compact (delete-materializing OPTIMIZE) and
snapshot expiry / vacuum for the native Iceberg and Delta layers."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from moosestack_spark.catalog.delta_native import DeltaNativeTable
from moosestack_spark.catalog.iceberg_native import IcebergNativeTable


def _df(spark, n=80):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
    )


def _expected(n=80):
    return [k for k in range(n) if k % 7 != 2 and k % 5 != 3]


def _apply_deletes_iceberg(table, spark):
    table.delete_where("k % 7 = 2")
    table.delete_equality(
        table.spark.createDataFrame(
            [(k,) for k in range(80) if k % 5 == 3], "k long"
        )
    )


def test_iceberg_compact_materializes_deletes(spark, tmp_path):
    path = str(tmp_path / "t")
    table = IcebergNativeTable.write(_df(spark).repartition(5), path)
    _apply_deletes_iceberg(table, spark)
    pre = sorted(r.k for r in table.read().collect())
    pre_snap = table.current_snapshot_id()
    table.compact(target_partitions=2)
    post = sorted(r.k for r in table.read().collect())
    assert post == pre == _expected()
    # compacted snapshot consults no delete files: data_files() (which
    # refuses delete-bearing snapshots) works again and is smaller
    assert 1 <= len(table.data_files()) <= 2
    # prior snapshot still time-travelable (raw rows, pre-delete)
    assert table.read(snapshot_id=pre_snap).count() == len(_expected())


def test_iceberg_expire_snapshots_removes_orphans(spark, tmp_path):
    path = str(tmp_path / "t")
    table = IcebergNativeTable.write(_df(spark).repartition(5), path)
    _apply_deletes_iceberg(table, spark)
    old_snap = table.current_snapshot_id()
    table.compact()
    n_parquet_before = len(
        glob.glob(os.path.join(path, "data", "**", "*.parquet"), recursive=True)
    )
    dropped, deleted = table.expire_snapshots(keep_last=1)
    assert dropped >= 2 and deleted >= 1
    # current read unaffected; expired snapshot gone
    assert sorted(r.k for r in table.read().collect()) == _expected()
    with pytest.raises(ValueError, match="snapshot"):
        table.read(snapshot_id=old_snap)
    n_parquet_after = len(
        glob.glob(os.path.join(path, "data", "**", "*.parquet"), recursive=True)
    )
    assert n_parquet_after < n_parquet_before


def test_iceberg_expire_keeps_current(spark, tmp_path):
    path = str(tmp_path / "t")
    table = IcebergNativeTable.write(_df(spark), path)
    assert table.expire_snapshots(keep_last=5) == (0, 0)


@pytest.mark.parametrize(
    "spec",
    [{"partition_by": "p"}, {"spec_by": [("bucket[4]", "k"), ("identity", "p")]}],
    ids=["identity", "bucket_identity"],
)
def test_iceberg_compact_partitioned(spark, tmp_path, spec):
    path = str(tmp_path / "t")
    table = IcebergNativeTable.write(_df(spark), path, **spec)
    table.delete_where("k % 7 = 2")
    pre = sorted(r.k for r in table.read(partition_filter={"p": "1"}).collect())
    table.compact()
    post = sorted(r.k for r in table.read(partition_filter={"p": "1"}).collect())
    assert post == pre == [k for k in range(80) if k % 3 == 1 and k % 7 != 2]
    # the rewrite keeps the table's layout: one dir level per spec field
    fields = [f["name"] for f in table.metadata()["partition-specs"][0]["fields"]]
    for f in table.data_files():
        assert [d.split("=")[0] for d in f.split(os.sep)[-len(fields) - 1:-1]] == fields


def test_delta_compact_materializes_dvs(spark, tmp_path):
    path = str(tmp_path / "t")
    table = DeltaNativeTable.write(_df(spark).repartition(5), path)
    table.delete_where("k % 7 = 2")
    pre = sorted(r.k for r in table.read().collect())
    v = table.compact(target_partitions=2)
    post = sorted(r.k for r in table.read().collect())
    assert post == pre == [k for k in range(80) if k % 7 != 2]
    _, files = table.snapshot()
    assert 1 <= len(files) <= 2
    assert not any(a.get("deletionVector") for a in files.values())
    # pre-compact version still time-travelable
    assert table.read(version=v - 1).count() == len(pre)


def test_delta_vacuum_removes_unreferenced(spark, tmp_path):
    path = str(tmp_path / "t")
    table = DeltaNativeTable.write(_df(spark).repartition(5), path)
    table.delete_where("k % 7 = 2")
    pre_delete_version = 1
    table.compact()
    removed = table.vacuum(keep_last=1)
    assert removed >= 1
    # DV file of the superseded version is gone too
    assert not glob.glob(os.path.join(path, "deletion_vector_*.bin"))
    assert sorted(r.k for r in table.read().collect()) == [
        k for k in range(80) if k % 7 != 2
    ]
    # time travel to a vacuumed version now fails at scan time
    with pytest.raises(Exception):
        table.read(version=pre_delete_version).collect()


def test_delta_vacuum_keeps_referenced_dvs(spark, tmp_path):
    """vacuum(keep_last) where the kept version still carries DVs must NOT
    delete the DV file."""
    path = str(tmp_path / "t")
    table = DeltaNativeTable.write(_df(spark), path)
    table.delete_where("k % 7 = 2")
    table.vacuum(keep_last=1)
    assert glob.glob(os.path.join(path, "deletion_vector_*.bin"))
    assert sorted(r.k for r in table.read().collect()) == [
        k for k in range(80) if k % 7 != 2
    ]


# ---- randomized delete-semantics sweep (both formats) ----

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False

if HAVE_HYP:
    # each example plants a table and runs Spark jobs — keep the example
    # count small; the value is the RANDOM INTERLEAVING of deletes/appends
    _ops = st.lists(
        st.one_of(
            st.tuples(st.just("pos"), st.integers(2, 9)),   # delete k % m == 1
            st.tuples(st.just("eq"), st.integers(0, 4)),    # delete grp == g
            st.tuples(st.just("append"), st.integers(0, 3)),
        ),
        min_size=1,
        max_size=4,
    )

    def _simulate(ops, n0=30):
        """Python model: rows = {k: grp}; eq deletes apply only to rows
        present BEFORE the delete (strict-sequence rule), pos deletes to
        rows present at delete time."""
        rows = {k: k % 5 for k in range(n0)}
        next_base = 100
        for op, arg in ops:
            if op == "pos":
                rows = {k: g for k, g in rows.items() if k % arg != 1}
            elif op == "eq":
                rows = {k: g for k, g in rows.items() if g != arg}
            else:
                rows.update({next_base + j: (next_base + j) % 5
                             for j in range(10)})
                next_base += 100
        return sorted(rows)

    @given(_ops)
    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    def test_iceberg_random_delete_interleavings(spark, tmp_path_factory, ops):
        from pyspark.sql import functions as F

        path = str(tmp_path_factory.mktemp("ice_hyp") / "t")
        df0 = spark.range(0, 30).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
        )
        table = IcebergNativeTable.write(df0.repartition(3), path)
        next_base = 100
        for op, arg in ops:
            if op == "pos":
                table.delete_where(f"k % {arg} = 1")
            elif op == "eq":
                table.delete_equality(
                    spark.createDataFrame([(arg,)], "grp long")
                )
            else:
                app = spark.range(next_base, next_base + 10).select(
                    F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
                )
                IcebergNativeTable.write(app, path, mode="append")
                next_base += 100
        got = sorted(r.k for r in table.read().collect())
        assert got == _simulate(ops), ops

    @given(_ops)
    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    def test_delta_random_delete_interleavings(spark, tmp_path_factory, ops):
        from pyspark.sql import functions as F

        path = str(tmp_path_factory.mktemp("dl_hyp") / "t")
        df0 = spark.range(0, 30).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
        )
        table = DeltaNativeTable.write(df0.repartition(3), path)
        next_base = 100
        for op, arg in ops:
            if op == "pos":
                table.delete_where(f"k % {arg} = 1")
            elif op == "eq":
                # delta DVs are positional; the equality-style delete is
                # delete_where on the value predicate — applies to rows
                # present AT DELETE TIME, same as the simulator
                table.delete_where(f"grp = {arg}")
            else:
                app = spark.range(next_base, next_base + 10).select(
                    F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
                )
                DeltaNativeTable.write(app, path, mode="append")
                next_base += 100
        got = sorted(r.k for r in table.read().collect())
        assert got == _simulate(ops), ops
