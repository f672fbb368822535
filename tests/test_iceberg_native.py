"""Native Iceberg v2 layer: Avro container codec, metadata walk, partition
pruning, append snapshots, time travel, honest boundaries."""

from __future__ import annotations

import json
import os

import pytest

from moosestack_spark.catalog.avro import read_container, write_container
from moosestack_spark.catalog.iceberg_native import IcebergNativeTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS p", "CAST(id * 2.5 AS DOUBLE) AS val"
    )


@pytest.fixture()
def table(spark, tmp_path):
    return IcebergNativeTable.write(
        _df(spark, 0, 90), str(tmp_path / "tbl"), partition_by="p"
    )


def test_avro_container_roundtrip_nested_union_array_map(tmp_path):
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "opt", "type": ["null", "long"], "default": None},
            {"name": "arr", "type": {"type": "array", "items": "double"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {"name": "b", "type": "bytes"},
            {"name": "flag", "type": "boolean"},
        ],
    }
    recs = [
        {"s": "x", "opt": 1 << 45, "arr": [1.5, -2.0], "m": {"a": -7}, "b": b"\x00\xff", "flag": True},
        {"s": "", "opt": None, "arr": [], "m": {}, "b": b"", "flag": False},
    ]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        write_container(p, schema, recs, codec=codec)
        _, out = read_container(p)
        assert out == recs


def test_read_matches_source(table, spark):
    got = {(r.id, r.p, r.val) for r in table.read().collect()}
    want = {(r.id, r.p, r.val) for r in _df(spark, 0, 90).collect()}
    assert got == want


def test_partition_pruning_opens_subset_of_files(table):
    all_files = table.data_files()
    pruned = table.data_files(partition_filter={"p": "1"})
    assert 0 < len(pruned) < len(all_files)
    # every pruned file really belongs to p=1
    assert all("p=1" in f for f in pruned)
    assert table.read(partition_filter={"p": "1"}).count() == 30


def test_append_creates_snapshot_and_time_travel(table, spark):
    snap1 = table.current_snapshot_id()
    t2 = IcebergNativeTable.write(
        _df(spark, 90, 120), table.path, partition_by="p", mode="append"
    )
    assert len(t2.snapshots()) == 2
    assert t2.read().count() == 120
    assert t2.read(snapshot_id=snap1).count() == 90  # old snapshot isolated
    # the new metadata version is discoverable via version-hint
    hint = open(os.path.join(t2.meta_dir, "version-hint.text")).read()
    assert hint.strip() == "2"


def test_overwrite_of_an_existing_table_raises_and_keeps_its_rows(table, spark):
    with pytest.raises(FileExistsError):
        IcebergNativeTable.write(_df(spark, 500, 510), table.path, partition_by="p")
    assert sorted(r.id for r in table.read().collect()) == list(range(90))
    assert len(table.snapshots()) == 1


def test_write_jobs_do_not_grow_with_file_count(spark, tmp_path):
    """Record counts come from the parquet footers: a 16-bucket write runs
    as many Spark jobs as a 4-bucket write of the same rows."""
    import uuid

    df = spark.range(0, 5000).selectExpr("id AS k")
    sc = spark.sparkContext
    jobs, files = {}, {}
    for n in (4, 16):
        group = f"ice-write-{n}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "iceberg write")
        try:
            t = IcebergNativeTable.write(df, str(tmp_path / f"b{n}"), bucket_by=("k", n))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
        files[n] = len(t.data_files())
    assert files[16] > files[4] >= 4
    assert jobs[16] == jobs[4]


def test_unknown_snapshot_raises(table):
    with pytest.raises(ValueError, match="snapshot"):
        table.read(snapshot_id=999)


def test_unknown_file_content_raises_honestly(table, spark):
    """Row-level deletes (content 1/2) are supported now; an UNKNOWN
    data_file.content must still refuse rather than silently misread."""
    meta = table.metadata()
    snap = [s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]][0]
    _, manifests = read_container(table._local(snap["manifest-list"]))
    mpath = table._local(manifests[0]["manifest_path"])
    schema, entries = read_container(mpath)
    entries[0]["data_file"]["content"] = 3
    write_container(mpath, schema, entries)
    with pytest.raises(NotImplementedError, match="content=3"):
        table.read()


def test_transform_pruning_refused(table):
    """Pruning over an UNSUPPORTED transform must refuse (all scalar
    transforms are handled now; void is not)."""
    meta_path = table._current_metadata_path()
    meta = json.load(open(meta_path))
    meta["partition-specs"][0]["fields"][0]["transform"] = "void"
    meta["partition-specs"][0]["fields"][0]["name"] = "p_void"
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(NotImplementedError, match="void"):
        table.data_files(partition_filter={"p": "1"})


def test_high_cardinality_partition_refused(spark, tmp_path, monkeypatch):
    df = spark.range(50).selectExpr("id", "CAST(id AS STRING) AS p")
    monkeypatch.setattr(IcebergNativeTable, "PARTITION_CAP", 10)
    with pytest.raises(ValueError, match="partition values"):
        IcebergNativeTable.write(df, str(tmp_path / "hc"), partition_by="p")


def test_olap_table_iceberg_engine_uses_native_reader(spark, tmp_path):
    """An OlapTable configured with the IcebergS3 engine pointing at a
    local directory-layout table reads through the native metadata walk
    (no Iceberg jars on the classpath)."""
    from pydantic import BaseModel

    from moosestack_spark.catalog.engines import IcebergS3, OlapConfig
    from moosestack_spark.catalog.table import OlapTable

    ice_path = str(tmp_path / "ice_tbl")
    IcebergNativeTable.write(_df(spark, 0, 40), ice_path, partition_by="p")

    class Row(BaseModel):
        id: int
        p: str
        val: float

    t = OlapTable(
        "ice_engine_read",
        Row,
        spark,
        str(tmp_path / "wh"),
        OlapConfig(engine=IcebergS3(table=ice_path)),
        register=False,
    )
    got = t.read()
    assert got.count() == 40
    assert {r.p for r in got.select("p").distinct().collect()} == {"0", "1", "2"}


def test_data_filter_pushes_into_parquet_scan(table):
    """Same pushdown pin as the Delta reader: the metadata walk selects
    files, Spark's parquet scan still sees PushedFilters."""
    df = table.read().filter("id > 50")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "id" in plan.split("PushedFilters")[1][:80]


# ---- bucket[N] partition transform ----


def test_bucket_hash_matches_spec_vector():
    from moosestack_spark.catalog.iceberg_native import murmur3_32_long

    # Iceberg spec appendix B: hash of long 34 = 2017239379
    assert murmur3_32_long(34) == 2017239379


def test_bucket_sql_equals_python(spark):
    import random

    from pyspark.sql import functions as F

    from moosestack_spark.catalog.iceberg_native import (
        iceberg_bucket,
        iceberg_bucket_sql,
    )

    random.seed(11)
    vals = [0, 1, -1, 34, 2**62, -(2**62)] + [
        random.randint(-(2**62), 2**62) for _ in range(100)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = [r[0] for r in df.select(F.expr(iceberg_bucket_sql("v", 16))).collect()]
    assert got == [iceberg_bucket(v, 16) for v in vals]


def test_bucket_partitioned_write_read_prune(spark, tmp_path):
    from pyspark.sql import functions as F

    from moosestack_spark.catalog.iceberg_native import (
        IcebergNativeTable,
        iceberg_bucket,
    )

    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    table = IcebergNativeTable.write(
        df, str(tmp_path / "t"), bucket_by=("k", 8)
    )
    # high-cardinality key, but at most 8 bucket DIRS — no PARTITION_CAP
    all_files = table.data_files()
    dirs = {f.rsplit("/", 1)[0] for f in all_files}
    assert len(dirs) == 8
    # pruned read on the SOURCE column: only k=1234's bucket is opened
    pruned = table.data_files(partition_filter={"k": 1234})
    b = iceberg_bucket(1234, 8)
    assert pruned and all(f"k_bucket={b}" in f for f in pruned)
    assert len(pruned) < len(all_files) / 4
    got = (
        table.read(partition_filter={"k": 1234})
        .filter(F.col("k") == 1234)
        .collect()
    )
    assert len(got) == 1 and got[0]["v"] == 3702
    assert table.read().count() == 4000


def test_bucket_table_deletes_and_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    from moosestack_spark.catalog.iceberg_native import IcebergNativeTable

    df = spark.range(0, 500).select(F.col("id").alias("k"))
    table = IcebergNativeTable.write(
        df, str(tmp_path / "t"), bucket_by=("k", 4)
    )
    table.delete_where("k % 10 = 3")
    expect = [k for k in range(500) if k % 10 != 3]
    assert sorted(r.k for r in table.read().collect()) == expect
    table.compact()
    assert sorted(r.k for r in table.read().collect()) == expect
    dirs = {f.rsplit("/", 1)[0] for f in table.data_files()}
    assert len(dirs) == 4  # bucket layout preserved


def test_unknown_filter_key_raises(spark, tmp_path):
    from pyspark.sql import functions as F

    from moosestack_spark.catalog.iceberg_native import IcebergNativeTable

    df = spark.range(0, 10).select(F.col("id").alias("k"))
    table = IcebergNativeTable.write(
        df, str(tmp_path / "t"), bucket_by=("k", 4)
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="match no partition"):
        table.read(partition_filter={"nope": 1})


def test_truncate_and_date_transforms(spark, tmp_path):
    """truncate[W] (floor-mod, exact for negatives) and year/month/day
    transforms: write, prune on the source column, compact preserves."""
    import datetime

    from pyspark.sql import functions as F

    from moosestack_spark.catalog.iceberg_native import (
        IcebergNativeTable,
        iceberg_transform,
    )

    # truncate[100] over a column with negatives
    df = spark.range(0, 300).select((F.col("id") - 150).alias("k"))
    t1 = IcebergNativeTable.write(
        df, str(tmp_path / "tr"), transform_by=("truncate[100]", "k")
    )
    pruned = t1.data_files(partition_filter={"k": -101})
    assert pruned and all("k_truncate=-200" in f for f in pruned)
    assert iceberg_transform("truncate[100]", -101) == -200
    got = sorted(
        r.k for r in t1.read(partition_filter={"k": -101}).collect()
    )
    # data spans [-150, 150): the -200 partition holds [-150, -100)
    assert got == list(range(-150, -100))
    assert t1.read().count() == 300

    # month transform over dates
    df2 = spark.range(0, 120).select(
        F.expr("date_add(DATE '2021-11-15', CAST(id AS INT) * 10)").alias("d"),
        F.col("id").alias("k"),
    )
    t2 = IcebergNativeTable.write(
        df2, str(tmp_path / "mo"), transform_by=("month", "d")
    )
    assert iceberg_transform("month", "2021-11-20") == (2021 - 1970) * 12 + 10
    sub = t2.read(partition_filter={"d": "2021-11-20"})
    months = {
        (r.d.year, r.d.month) for r in sub.select("d").distinct().collect()
    }
    assert months == {(2021, 11)}
    t2.compact()
    assert t2.read().count() == 120


def test_hour_transform(spark, tmp_path):
    from pyspark.sql import functions as F

    from moosestack_spark.catalog.iceberg_native import (
        IcebergNativeTable,
        iceberg_transform,
    )

    df = spark.range(0, 96).select(
        F.expr(
            "timestamp_seconds(1700000000 + CAST(id AS BIGINT) * 1800)"
        ).alias("ts"),
        F.col("id").alias("k"),
    )
    table = IcebergNativeTable.write(
        df, str(tmp_path / "t"), transform_by=("hour", "ts")
    )
    probe = "2023-11-14T23:00:00+00:00"
    want_hour = 1700000000 // 3600 + 1  # 1700000000 is 22:13:20 UTC
    assert iceberg_transform("hour", probe) == want_hour
    sub = table.read(partition_filter={"ts": probe})
    hours = {
        r.ts.replace(minute=0, second=0)
        for r in sub.select("ts").collect()
    }
    assert len(hours) == 1
    assert table.read().count() == 96


def test_bucket_non_integer_column_refused(spark, tmp_path):
    from pyspark.sql import functions as F

    from moosestack_spark.catalog.iceberg_native import IcebergNativeTable

    df = spark.range(0, 10).select(F.col("id").cast("string").alias("s"))
    with pytest.raises(NotImplementedError, match="INTEGER keys only"):
        IcebergNativeTable.write(
            df, str(tmp_path / "t"), bucket_by=("s", 4)
        )
    df2 = spark.range(0, 10).select(F.col("id").alias("k"))
    with pytest.raises(NotImplementedError, match="date/timestamp only"):
        IcebergNativeTable.write(
            df2, str(tmp_path / "t2"), transform_by=("month", "k")
        )


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.integers(min_value=1, max_value=10**6),
    )
    @settings(max_examples=200, deadline=None)
    def test_truncate_transform_matches_python_floor_mod(v, w):
        from moosestack_spark.catalog.iceberg_native import iceberg_transform

        t = iceberg_transform(f"truncate[{w}]", v)
        assert t <= v < t + w and t % w == 0
except ImportError:  # pragma: no cover
    pass


def test_multifield_spec_write_append_prune(spark, tmp_path):
    """2-field spec (identity(cat), bucket[2](id)): write, append a second
    snapshot (exercising _partition_fields on a multi-field spec), read
    back everything, and prune on both source columns at once."""
    df = spark.range(40).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS cat", "id * 10 AS v"
    )
    path = str(tmp_path / "mf")
    table = IcebergNativeTable.write(
        df, path, spec_by=[("identity", "cat"), ("bucket[2]", "id")]
    )
    more = spark.range(40, 50).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS cat", "id * 10 AS v"
    )
    table = IcebergNativeTable.write(
        more, path, mode="append", spec_by=[("identity", "cat"), ("bucket[2]", "id")]
    )
    got = table.read().selectExpr("CAST(SUM(v) AS BIGINT)").collect()[0][0]
    assert got == sum(i * 10 for i in range(50))
    all_files = table.data_files()
    pruned = table.data_files(partition_filter={"cat": "1", "id": 7})
    assert 0 < len(pruned) < len(all_files)
    rows = table.read(partition_filter={"cat": "1", "id": 7}).filter(
        "id = 7"
    ).collect()
    assert [(r.id, r.cat, r.v) for r in rows] == [(7, "1", 70)]


def test_clustered_write_narrows_file_stats(spark, tmp_path):
    """cluster_by=(x, y): each data file's parquet min/max must cover a
    small rectangle of BOTH columns (vs an unclustered shuffled write),
    with identical table contents — layout only."""
    import pyarrow.parquet as pq

    df = spark.range(20000).selectExpr(
        "pmod(id * 2654435761, 4096) AS x",
        "pmod(id * 40503, 4096) AS y",
        "id AS v",
    )
    plain = IcebergNativeTable.write(
        df.repartition(8), str(tmp_path / "plain")
    )
    clus = IcebergNativeTable.write(
        df, str(tmp_path / "clus"), cluster_by=("x", "y"), cluster_files=8
    )

    def mean_span(table, col):
        spans = []
        for f in table.data_files():
            md = pq.read_metadata(f)
            idx = md.schema.names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max
                     for i in range(md.num_row_groups))
            spans.append(hi - lo)
        return sum(spans) / len(spans)

    # a shuffled write's files each span ~the full 0..4095 domain; the
    # Hilbert-clustered files must be at least 2x tighter on BOTH dims
    assert mean_span(clus, "x") < mean_span(plain, "x") / 2
    assert mean_span(clus, "y") < mean_span(plain, "y") / 2
    got = clus.read().selectExpr("CAST(SUM(v) AS BIGINT)").collect()[0][0]
    want = plain.read().selectExpr("CAST(SUM(v) AS BIGINT)").collect()[0][0]
    assert got == want

    with pytest.raises(ValueError, match="unpartitioned"):
        IcebergNativeTable.write(
            df, str(tmp_path / "bad"), partition_by="x", cluster_by=("x", "y")
        )
