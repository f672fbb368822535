"""OlapTable tests mirroring the reference's insertable-validation /
olap-table-versioning / collapsing-merge-tree e2e coverage
(packages/ts-moose-lib/tests/insertable-validation.test.ts,
test_olap_table_versioning.py, framework-cli-e2e collapsing tests)."""

from __future__ import annotations

import datetime as dt
import os
from typing import Annotated, Optional

import pytest
from pydantic import BaseModel

from moosestack_spark.catalog.engines import (
    Buffer,
    CollapsingMergeTree,
    LifeCycle,
    Merge,
    OlapConfig,
    ReplacingMergeTree,
    SummingMergeTree,
)
from moosestack_spark.catalog.table import InsertOptions, OlapTable
from moosestack_spark.datamodel import ClickHouseCodec, ClickHouseTTL, Key, UInt8


class Event(BaseModel):
    id: Key[int]
    kind: str
    amount: float


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def test_insert_and_read_back(spark, warehouse):
    t = OlapTable("events", Event, spark, warehouse)
    res = t.insert([{"id": 1, "kind": "a", "amount": 1.5}, {"id": 2, "kind": "b", "amount": 2.5}])
    assert res.inserted == 2 and res.failed == 0
    rows = {r.id: r for r in t.read().collect()}
    assert rows[1].amount == 1.5 and rows[2].kind == "b"


def test_fail_fast_raises(spark, warehouse):
    t = OlapTable("ff", Event, spark, warehouse)
    with pytest.raises(Exception):
        t.insert([{"id": 1, "kind": "a", "amount": 1.0}, {"id": "nope", "kind": 1, "amount": "x"}])
    assert t.read().count() == 0  # nothing landed


def test_discard_strategy(spark, warehouse):
    t = OlapTable("disc", Event, spark, warehouse)
    res = t.insert(
        [{"id": 1, "kind": "a", "amount": 1.0}, {"id": "bad", "kind": "b", "amount": None}],
        InsertOptions(strategy="discard"),
    )
    assert res.inserted == 1 and res.failed == 1
    assert t.read().count() == 1


def test_isolate_strategy_isolates_poison(spark, warehouse):
    t = OlapTable("iso", Event, spark, warehouse)
    rows = [{"id": i, "kind": "k", "amount": float(i)} for i in range(10)]
    rows[3] = {"id": "poison", "kind": "k", "amount": 0.0}
    rows[7] = {"id": "poison2", "kind": None, "amount": 0.0}
    res = t.insert(rows, InsertOptions(strategy="isolate"))
    assert res.inserted == 8 and res.failed == 2
    assert t.read().count() == 8
    assert len(res.errors) == 2


def test_error_thresholds(spark, warehouse):
    t = OlapTable("thr", Event, spark, warehouse)
    bad = [{"id": "x", "kind": "k", "amount": 0.0}] * 3
    good = [{"id": 1, "kind": "k", "amount": 1.0}]
    with pytest.raises(ValueError, match="allow_errors"):
        t.insert(good + bad, InsertOptions(strategy="discard", allow_errors=2))
    with pytest.raises(ValueError, match="allow_errors_ratio"):
        t.insert(good + bad, InsertOptions(strategy="discard", allow_errors_ratio=0.5))
    # within thresholds -> lands
    res = t.insert(good + bad[:1], InsertOptions(strategy="discard", allow_errors=1))
    assert res.inserted == 1


def test_iterator_insert_batches(spark, warehouse):
    t = OlapTable("it", Event, spark, warehouse)
    res = t.insert(iter({"id": i, "kind": "k", "amount": 0.5} for i in range(2500)))
    assert res.inserted == 2500
    assert t.read().count() == 2500


def test_dataframe_insert_executes_lineage_once(spark, warehouse):
    """insert(DataFrame) must NOT re-run the input lineage for its row count
    (at 100 TB the source would compute twice): the count rides the write's
    own execution via an Observation.  Pinned with an accumulator-backed UDF
    in the lineage — each row evaluated exactly once."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    acc = spark.sparkContext.accumulator(0)

    def tag(x):
        acc.add(1)
        return x

    tag_udf = F.udf(tag, LongType())
    src = spark.range(1, 11).select(
        tag_udf(F.col("id")).alias("id"),
        F.lit("k").alias("kind"),
        F.lit(1.0).alias("amount"),
    )
    t = OlapTable("once", Event, spark, warehouse)
    res = t.insert(src)
    assert res.inserted == 10
    assert t.read().count() == 10
    assert acc.value == 10, f"lineage ran {acc.value / 10:.1f}x"


def test_unsigned_range_check(spark, warehouse):
    class M(BaseModel):
        id: Key[int]
        small: UInt8

    t = OlapTable("rng", M, spark, warehouse)
    res = t.insert(
        [{"id": 1, "small": 200}, {"id": 2, "small": 300}, {"id": 3, "small": -1}],
        InsertOptions(strategy="discard"),
    )
    assert res.inserted == 1 and res.failed == 2


def test_concurrent_inserts_into_one_table(spark, warehouse):
    """Two threads inserting into one table: every insert lands, the row
    count is exact and every append commits its own snapshot version
    (unserialized appends shared Spark's <path>/_temporary/0 and failed,
    and two commits could pick the same version)."""
    import threading

    t = OlapTable("conc", Event, spark, warehouse)
    n = 4
    errors: list = []

    def client(c: int) -> None:
        try:
            for i in range(n):
                t.insert([{"id": c * 100 + i * 10 + j, "kind": "k", "amount": 1.0}
                          for j in range(3)])
        except Exception as exc:  # surfaced in the main thread below
            errors.append(exc)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    assert t.read().count() == 2 * n * 3
    versions = [s["version"] for s in t.snapshots()]
    assert sorted(versions) == list(range(1, 2 * n + 1))


def test_versioned_physical_name(spark, warehouse):
    t = OlapTable("users", Event, spark, warehouse, OlapConfig(version="1.2"))
    assert t.physical_name == "users_1_2"
    t.insert([{"id": 1, "kind": "a", "amount": 1.0}])
    assert "users_1_2" in t.path


def test_replacing_engine_read(spark, warehouse):
    class Versioned(BaseModel):
        id: Key[int]
        val: str
        ver: int

    t = OlapTable(
        "repl",
        Versioned,
        spark,
        warehouse,
        OlapConfig(order_by_fields=["id"], engine=ReplacingMergeTree(ver="ver")),
    )
    t.insert([{"id": 1, "val": "old", "ver": 1}, {"id": 2, "val": "keep", "ver": 1}])
    t.insert([{"id": 1, "val": "new", "ver": 2}])
    rows = {r.id: r.val for r in t.read().collect()}
    assert rows == {1: "new", 2: "keep"}
    assert t.read_raw().count() == 3  # pre-merge state preserved


def test_summing_engine_read(spark, warehouse):
    class Counter(BaseModel):
        key: Key[str]
        hits: int

    t = OlapTable(
        "sums",
        Counter,
        spark,
        warehouse,
        OlapConfig(order_by_fields=["key"], engine=SummingMergeTree(columns=("hits",))),
    )
    t.insert([{"key": "a", "hits": 1}, {"key": "b", "hits": 5}])
    t.insert([{"key": "a", "hits": 2}])
    rows = {r.key: r.hits for r in t.read().collect()}
    assert rows == {"a": 3, "b": 5}


def test_collapsing_engine_read(spark, warehouse):
    class Signed(BaseModel):
        id: Key[int]
        sign: int

    t = OlapTable(
        "coll",
        Signed,
        spark,
        warehouse,
        OlapConfig(order_by_fields=["id"], engine=CollapsingMergeTree(sign="sign")),
    )
    t.insert([{"id": 1, "sign": 1}, {"id": 2, "sign": 1}, {"id": 1, "sign": -1}])
    assert [r.id for r in t.read().collect()] == [2]


def test_engine_capability_validation():
    with pytest.raises(ValueError, match="ORDER BY"):
        OlapConfig(order_by_fields=["x"], engine=Buffer()).validate()
    with pytest.raises(ValueError, match="PARTITION BY"):
        OlapConfig(partition_by="d", engine=Merge()).validate()
    with pytest.raises(ValueError, match="exclusive"):
        OlapConfig(order_by_fields=["a"], order_by_expression="(a)").validate()


def test_life_cycle_protection(spark, warehouse):
    t = OlapTable(
        "prot", Event, spark, warehouse, OlapConfig(life_cycle=LifeCycle.DELETION_PROTECTED)
    )
    t.insert([{"id": 1, "kind": "a", "amount": 1.0}])
    with pytest.raises(PermissionError):
        t.drop()
    with pytest.raises(PermissionError):
        t.truncate()
    ext = OlapTable(
        "ext", Event, spark, warehouse, OlapConfig(life_cycle=LifeCycle.EXTERNALLY_MANAGED)
    )
    with pytest.raises(PermissionError):
        ext.insert([{"id": 1, "kind": "a", "amount": 1.0}])


def test_truncate_and_peek(spark, warehouse):
    t = OlapTable("pk", Event, spark, warehouse)
    t.insert([{"id": i, "kind": "k", "amount": 1.0} for i in range(5)])
    assert len(t.peek(3)) == 3
    t.truncate()
    assert t.read().count() == 0



class Reading(BaseModel):
    sensor: str
    ts: dt.datetime
    v: float


def test_apply_ttl_deletes_expired_rows(spark, warehouse):
    tbl = OlapTable(
        "readings", Reading, spark, warehouse, OlapConfig(ttl="ts + INTERVAL 7 DAY")
    )
    tbl.insert(
        [
            {"sensor": "a", "ts": dt.datetime(2024, 1, 1), "v": 1.0},  # expired
            {"sensor": "a", "ts": dt.datetime(2024, 1, 9), "v": 2.0},  # kept
            {"sensor": "b", "ts": dt.datetime(2024, 1, 3, 12), "v": 3.0},  # expired
            {"sensor": "b", "ts": dt.datetime(2024, 1, 10), "v": 4.0},  # kept
        ]
    )
    deleted = tbl.apply_ttl(now=dt.datetime(2024, 1, 10, 12))
    assert deleted == 2
    assert sorted(r["v"] for r in tbl.peek(10)) == [2.0, 4.0]
    # idempotent second run
    assert tbl.apply_ttl(now=dt.datetime(2024, 1, 10, 12)) == 0


class Stamped(BaseModel):
    ts: dt.datetime


def test_apply_ttl_rejects_unknown_grammar(spark, warehouse):
    tbl = OlapTable("m", Stamped, spark, warehouse, OlapConfig(ttl="toDate(ts) + 1"))
    tbl.insert([{"ts": dt.datetime(2024, 1, 1)}])
    with pytest.raises(ValueError):
        tbl.apply_ttl()


class Point(BaseModel):
    id: Key[int]
    v: float


def test_s3_engine_reads_and_writes_external_path(spark, warehouse, tmp_path):
    from moosestack_spark.catalog.engines import S3

    ext = str(tmp_path / "ext_bucket")
    t = OlapTable(
        "ext", Point, spark, warehouse, OlapConfig(engine=S3(path=ext))
    )
    t.insert([{"id": 1, "v": 1.0}, {"id": 2, "v": 2.0}])
    assert sorted(r["v"] for r in t.peek(10)) == [1.0, 2.0]
    # rows physically live at the external path, not under the warehouse
    assert spark.read.parquet(ext).count() == 2


def test_merge_engine_unions_matching_tables(spark, warehouse):
    from moosestack_spark.catalog.engines import Merge

    a = OlapTable("metrics_a", Point, spark, warehouse)
    b = OlapTable("metrics_b", Point, spark, warehouse)
    other = OlapTable("events_x", Point, spark, warehouse)
    a.insert([{"id": 1, "v": 1.0}])
    b.insert([{"id": 2, "v": 2.0}])
    other.insert([{"id": 3, "v": 3.0}])
    m = OlapTable(
        "all_metrics",
        Point,
        spark,
        warehouse,
        OlapConfig(engine=Merge(table_regex="metrics_.*")),
    )
    assert sorted(r["v"] for r in m.peek(10)) == [1.0, 2.0]
    with pytest.raises(PermissionError):
        m.insert([{"id": 9, "v": 9.0}])


def test_s3queue_streams_files_exactly_once(spark, warehouse, tmp_path):
    from moosestack_spark.catalog.engines import S3, S3Queue

    qdir = str(tmp_path / "queue")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    feeder = OlapTable("feed", Point, spark, warehouse, OlapConfig(engine=S3(path=qdir)))
    feeder.insert([{"id": 1, "v": 10.0}])
    q = OlapTable(
        "queue", Point, spark, warehouse, OlapConfig(engine=S3Queue(path=qdir))
    )
    with pytest.raises(PermissionError):
        q.insert([{"id": 5, "v": 5.0}])
    stream = q.stream_reader()
    job = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    job.awaitTermination()
    assert spark.read.parquet(sink).count() == 1
    # second run with the same checkpoint: no reprocessing (exactly-once)
    job2 = (
        q.stream_reader()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    job2.awaitTermination()
    assert spark.read.parquet(sink).count() == 1


def test_kafka_engine_batch_read_is_error(spark, warehouse):
    from moosestack_spark.catalog.engines import Kafka

    k = OlapTable(
        "topic",
        Point,
        spark,
        warehouse,
        OlapConfig(engine=Kafka(broker_list="b:9092", topic_list="t")),
    )
    with pytest.raises(PermissionError):
        k.read()


def test_optimize_compacts_and_sorts(spark, warehouse):
    import os

    t = OlapTable(
        "compact_me", Point, spark, warehouse, OlapConfig(order_by_fields=["id"])
    )
    # 6 separate appends -> many small files
    for i in range(6):
        t.insert([{"id": 100 - 10 * i - j, "v": float(i)} for j in range(3)])
    files_before = len(t._head_files())
    assert files_before >= 6
    rows_before = sorted(r["id"] for r in t.read().collect())
    n_after = t.optimize(target_files=2)
    assert n_after == len(t._head_files()) <= 2 < files_before
    assert sorted(r["id"] for r in t.read().collect()) == rows_before
    # each file of the new head is internally sorted by the ORDER BY key
    for f in t._head_files():
        ids = [r["id"] for r in spark.read.parquet(os.path.join(t.path, f)).collect()]
        assert ids == sorted(ids)


def test_projection_maintained_and_routed(spark, warehouse):
    import os

    from moosestack_spark.catalog.engines import TableProjection

    class Hit(BaseModel):
        user: Key[int]
        url: str
        n: int

    t = OlapTable(
        "hits",
        Hit,
        spark,
        warehouse,
        OlapConfig(
            order_by_fields=["user"],
            projections=[TableProjection(name="by_url", order_by=("url",))],
        ),
    )
    t.insert([{"user": i % 7, "url": f"/p/{i % 5}", "n": i} for i in range(40)])
    # projection dir exists as a sibling and holds the same row count
    proj_dir = t._projection_path("by_url")
    assert os.path.isdir(proj_dir)
    assert spark.read.parquet(proj_dir).count() == 40
    # predicate on url routes to the projection; on user stays on base
    routed = t.read_for_predicate("url")
    assert routed.count() == 40
    assert sorted(r["n"] for r in routed.collect()) == list(range(40))
    base = t.read_for_predicate("user")
    assert base.count() == 40
    # truncate clears both copies
    t.truncate()
    assert t.read_for_predicate("url").count() == 0


def test_seed_from_applies_where_and_limit(spark, warehouse):
    from moosestack_spark.catalog.engines import SeedFilter

    src = spark.range(100).selectExpr(
        "CAST(id AS INT) AS id", "'x' AS kind", "CAST(id AS DOUBLE) AS amount"
    )
    t = OlapTable(
        "seeded",
        Event,
        spark,
        warehouse,
        OlapConfig(seed_filter=SeedFilter(where="amount >= 90", limit=5)),
    )
    assert t.seed_from(src) == 5
    vals = sorted(r["amount"] for r in t.peek(20))
    assert len(vals) == 5 and all(v >= 90 for v in vals)


class Daily(BaseModel):
    d: str
    v: float


def test_partition_by_prunes_scan(spark, warehouse):
    t = OlapTable(
        "daily", Daily, spark, warehouse, OlapConfig(partition_by="d")
    )
    t.insert([{"d": f"2024-01-{dd:02d}", "v": float(i)} for dd in (1, 2, 3) for i in range(4)])
    df = t.read().filter("d = '2024-01-02'")
    assert df.count() == 4
    # the partition filter must reach the scan (PartitionFilters, not a
    # post-scan Filter) — the property that shards a 100 TB table read
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "2024-01-02" in plan.split("PartitionFilters", 1)[1][:200]


class SessionRow(BaseModel):
    sid: Key[int]
    ts: dt.datetime
    # PII-ish column expires after 1 day; row itself is kept
    client_ip: Annotated[Optional[str], ClickHouseTTL("ts + INTERVAL 1 DAY")] = None


def test_apply_column_ttl_nulls_expired_values(spark, warehouse):
    t = OlapTable("sessions", SessionRow, spark, warehouse)
    t.insert(
        [
            {"sid": 1, "ts": dt.datetime(2024, 1, 1), "client_ip": "10.0.0.1"},
            {"sid": 2, "ts": dt.datetime(2024, 1, 5), "client_ip": "10.0.0.2"},
        ]
    )
    cleared = t.apply_column_ttl(now=dt.datetime(2024, 1, 5, 6))
    assert cleared == {"client_ip": 1}
    rows = {r["sid"]: r["client_ip"] for r in t.peek(10)}
    assert rows == {1: None, 2: "10.0.0.2"}
    # rows survive; only the expired column value is reset
    assert t.read().count() == 2
    assert t.apply_column_ttl(now=dt.datetime(2024, 1, 5, 6)) == {"client_ip": 0}


class Compressed(BaseModel):
    id: Key[int]
    payload: Annotated[str, ClickHouseCodec("ZSTD(3)")]


def test_codec_maps_to_parquet_compression(spark, warehouse):
    import os

    import pyarrow.parquet as pq

    t = OlapTable("comp", Compressed, spark, warehouse)
    t.insert([{"id": i, "payload": "x" * 100} for i in range(50)])
    files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(t.path)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    metas = [pq.ParquetFile(f).metadata for f in files]
    meta = next(m for m in metas if m.num_rows > 0)
    codecs = {meta.row_group(0).column(i).compression for i in range(meta.num_columns)}
    assert codecs == {"ZSTD"}
    assert sorted(r["id"] for r in t.peek(100)) == list(range(50))


def test_settings_compression_overrides(spark, warehouse):
    import os

    import pyarrow.parquet as pq

    t = OlapTable(
        "comp2", Point, spark, warehouse, OlapConfig(settings={"compression": "gzip"})
    )
    t.insert([{"id": 1, "v": 1.0}])
    files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(t.path)
        for f in fs
        if f.endswith(".parquet")
    ]
    meta = next(
        m for m in (pq.ParquetFile(f).metadata for f in files) if m.num_rows > 0
    )
    assert meta.row_group(0).column(0).compression == "GZIP"


def test_order_by_expression_sorts_parts(spark, warehouse):
    import os

    t = OlapTable(
        "expr_sorted",
        Point,
        spark,
        warehouse,
        OlapConfig(order_by_expression="abs(v), id"),
    )
    t.insert([{"id": i, "v": float((-1) ** i * (50 - i))} for i in range(50)])
    files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(t.path)
        for f in fs
        if f.endswith(".parquet")
    ]
    for f in files:
        rows = spark.read.parquet(f).collect()
        keys = [(abs(r.v), r.id) for r in rows]
        assert keys == sorted(keys)


def test_delete_where_unpartitioned(spark, warehouse):
    t = OlapTable("delu", Event, spark, warehouse)
    t.insert([{"id": i, "kind": "a" if i % 2 else "b", "amount": float(i)} for i in range(10)])
    n = t.delete_where("kind = 'a'")
    assert n == 5
    assert sorted(r.id for r in t.read().collect()) == [0, 2, 4, 6, 8]
    assert t.delete_where("kind = 'zzz'") == 0


def test_delete_where_null_predicate_rows_kept(spark, warehouse):
    class M(BaseModel):
        id: Key[int]
        tag: Optional[str] = None

    t = OlapTable("deln", M, spark, warehouse)
    t.insert([{"id": 1, "tag": "x"}, {"id": 2, "tag": None}, {"id": 3, "tag": "y"}])
    # predicate is NULL for row 2 -> kept (CH mutation semantics)
    assert t.delete_where("tag = 'x'") == 1
    assert sorted(r.id for r in t.read().collect()) == [2, 3]


def _files_by_partition(t) -> dict[str, set[str]]:
    """The head snapshot's files, grouped by their partition directory."""
    out: dict[str, set[str]] = {}
    for f in t._head_files():
        out.setdefault(f.rsplit("/", 1)[0], set()).add(f)
    return out


def test_delete_where_partitioned_prunes(spark, warehouse):
    import os

    class P(BaseModel):
        id: Key[int]
        d: str
        amount: float

    t = OlapTable(
        "delp", P, spark, warehouse, OlapConfig(partition_by="d")
    )
    t.insert(
        [{"id": i, "d": f"d{i % 3}", "amount": float(i)} for i in range(12)]
    )
    before = _files_by_partition(t)
    # delete everything in partition d0 and one row of d1
    n = t.delete_where("d = 'd0' OR id = 1")
    assert n == 5
    left = sorted(r.id for r in t.read().collect())
    assert left == [2, 4, 5, 7, 8, 10, 11]
    after = _files_by_partition(t)
    # fully-deleted partition dropped; untouched partition files not rewritten
    assert "d=d0" not in after
    assert after["d=d2"] == before["d=d2"] and after["d=d1"] != before["d=d1"]


def test_update_where_unpartitioned(spark, warehouse):
    t = OlapTable("updu", Event, spark, warehouse)
    t.insert([{"id": i, "kind": "a" if i % 2 else "b", "amount": float(i)} for i in range(6)])
    n = t.update_where({"amount": "amount * 10"}, "kind = 'a'")
    assert n == 3
    got = {r.id: r.amount for r in t.read().collect()}
    assert got == {0: 0.0, 1: 10.0, 2: 2.0, 3: 30.0, 4: 4.0, 5: 50.0}
    # no-match predicate is a no-op
    assert t.update_where({"amount": "0"}, "kind = 'zzz'") == 0


def test_update_where_null_predicate_rows_untouched(spark, warehouse):
    class M(BaseModel):
        id: Key[int]
        tag: Optional[str] = None
        score: float = 0.0

    t = OlapTable("updn", M, spark, warehouse)
    t.insert([
        {"id": 1, "tag": "x", "score": 1.0},
        {"id": 2, "tag": None, "score": 2.0},
        {"id": 3, "tag": "y", "score": 3.0},
    ])
    assert t.update_where({"score": "score + 100"}, "tag = 'x'") == 1
    got = {r.id: r.score for r in t.read().collect()}
    assert got == {1: 101.0, 2: 2.0, 3: 3.0}


def test_update_where_rejects_key_and_unknown_columns(spark, warehouse):
    class P(BaseModel):
        id: Key[int]
        d: str
        amount: float

    t = OlapTable("updk", P, spark, warehouse, OlapConfig(partition_by="d", order_by_fields=["id"]))
    t.insert([{"id": 1, "d": "d0", "amount": 1.0}])
    with pytest.raises(ValueError, match="key column"):
        t.update_where({"d": "'d9'"}, "id = 1")
    with pytest.raises(ValueError, match="key column"):
        t.update_where({"id": "id + 1"}, "id = 1")
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where({"nope": "1"}, "id = 1")


def test_update_where_partitioned_prunes(spark, warehouse):
    import os

    class P(BaseModel):
        id: Key[int]
        d: str
        amount: float

    t = OlapTable("updp", P, spark, warehouse, OlapConfig(partition_by="d"))
    t.insert([{"id": i, "d": f"d{i % 3}", "amount": float(i)} for i in range(12)])
    before = _files_by_partition(t)
    n = t.update_where({"amount": "amount + 0.5"}, "d = 'd0'")
    assert n == 4
    got = {r.id: r.amount for r in t.read().collect()}
    assert got[0] == 0.5 and got[3] == 3.5 and got[6] == 6.5 and got[9] == 9.5
    assert got[1] == 1.0 and got[2] == 2.0
    after = _files_by_partition(t)
    # untouched partitions not rewritten
    assert after["d=d1"] == before["d=d1"] and after["d=d2"] == before["d=d2"]
    assert after["d=d0"] != before["d=d0"]


def test_update_where_casts_to_declared_type(spark, warehouse):
    t = OlapTable("updc", Event, spark, warehouse)
    t.insert([{"id": 1, "kind": "a", "amount": 2.0}])
    # integer-valued expression cast back to double keeps the schema stable
    before = dict(t.read().dtypes)
    t.update_where({"amount": "7"}, "id = 1")
    assert dict(t.read().dtypes) == before
    assert t.read().collect()[0].amount == 7.0


def test_bloom_filter_index_writes_parquet_blooms(spark, tmp_path):
    """A bloom_filter TableIndex on a column turns on the parquet bloom
    filter for that column — verified behaviorally: the bloom-indexed
    write is measurably larger than the identical write without the
    index (the filter bytes), and survives optimize()."""
    from pydantic import BaseModel

    from moosestack_spark.catalog.engines import OlapConfig, TableIndex
    from moosestack_spark.catalog.table import OlapTable

    class Row(BaseModel):
        id: int
        user: str

    rows = [{"id": i, "user": f"u{i % 500}"} for i in range(20_000)]

    def total_bytes(tbl):
        return sum(os.path.getsize(os.path.join(tbl.path, f)) for f in tbl._head_files())

    plain = OlapTable("bf_plain", Row, spark, str(tmp_path), register=False)
    plain.insert(rows)

    cfg = OlapConfig(
        indexes=[TableIndex(name="ix_user", expression="user",
                            type="bloom_filter", granularity=1)]
    )
    bloomed = OlapTable("bf_bloom", Row, spark, str(tmp_path), cfg, register=False)
    assert bloomed._parquet_index_options() == {
        "parquet.bloom.filter.enabled": "true",
        "parquet.bloom.filter.max.bytes": "65536",
    }
    bloomed.insert(rows)
    assert total_bytes(bloomed) > total_bytes(plain) + 1000
    # reads are unaffected; compaction keeps the filters
    assert bloomed.read().count() == 20_000
    bloomed.optimize(target_files=1)
    assert total_bytes(bloomed) > 1000 and bloomed.read().count() == 20_000


def test_mutation_partition_collect_guard(spark, warehouse, monkeypatch):
    """A table partitioned by a high-cardinality column must fail LOUDLY on
    mutation rather than collect an unbounded distinct-partition list to the
    driver (round-6 guard; cap shrunk for the test)."""

    class HC(BaseModel):
        id: Key[int]
        d: str
        amount: float

    t = OlapTable("mutguard", HC, spark, warehouse, OlapConfig(partition_by="d"))
    t.insert([{"id": i, "d": f"p{i}", "amount": float(i)} for i in range(8)])
    monkeypatch.setattr(OlapTable, "MUTATION_PARTITION_CAP", 3)
    with pytest.raises(ValueError, match="partition values"):
        t.delete_where("id >= 0")
    with pytest.raises(ValueError, match="partition values"):
        t.update_where({"amount": "amount + 1"}, "id >= 0")
    # under the cap the mutation proceeds normally
    assert t.delete_where("id < 2") == 2
    assert t.read().count() == 6
