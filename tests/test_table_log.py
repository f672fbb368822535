"""The log is the table: OlapTable reads follow its commit log, so a write
is all-or-nothing at every filesystem step, rewrites never destroy what a
concurrent append committed, and the shared log (catalog/txlog.py) replays
in one listing.  Also the other commits that share its put-if-absent
publish (Iceberg metadata)."""

from __future__ import annotations

import os
import shutil
import threading
import uuid

import pytest
from pydantic import BaseModel
from pyspark.sql import DataFrameWriter

from moosestack_spark.catalog.engines import Merge, OlapConfig, TableProjection
from moosestack_spark.catalog.table import OlapTable
from moosestack_spark.catalog.txlog import CHECKPOINT_INTERVAL, CommitConflict, TxLog
from moosestack_spark.datamodel import Key


class Ev(BaseModel):
    id: Key[int]
    d: str
    amount: float


def _rows(i0, n):
    return [{"id": i, "d": f"d{i % 3}", "amount": float(i)} for i in range(i0, i0 + n)]


def _state(t: OlapTable) -> list[tuple]:
    """What a new reader of the table sees."""
    return sorted(tuple(r) for r in _copy(t, t.warehouse).read().collect())


def _copy(t: OlapTable, wh: str) -> OlapTable:
    """The same table in warehouse ``wh``: its data and log copied there."""
    if wh != t.warehouse:
        shutil.copytree(t.warehouse, wh)
    return OlapTable(t.name, Ev, t.spark, wh, t.config, register=False)


def _flat(spark, wh):
    t = OlapTable("flat", Ev, spark, wh, OlapConfig(order_by_fields=["id"]), register=False)
    t.insert(_rows(0, 6))
    t.insert(_rows(6, 6))
    return t


def _partitioned(spark, wh):
    t = OlapTable("parted", Ev, spark, wh, OlapConfig(partition_by="d"), register=False)
    t.insert(_rows(0, 6))
    t.insert(_rows(6, 6))
    return t


def _rewritten(spark, wh):
    t = _flat(spark, wh)
    t.delete_where("id < 3")
    return t


# op -> (builds the before state, the operation)
OPS = {
    "append": (_flat, lambda t: t.insert(_rows(100, 3))),
    "optimize": (_flat, lambda t: t.optimize(target_files=1)),
    "delete": (_flat, lambda t: t.delete_where("id % 2 = 0")),
    "update": (_flat, lambda t: t.update_where({"amount": "amount + 1"}, "id < 4")),
    "delete_partitioned": (_partitioned, lambda t: t.delete_where("d = 'd0' OR id = 1")),
    "update_partitioned": (_partitioned,
                           lambda t: t.update_where({"amount": "-amount"}, "d = 'd1'")),
    "restore": (_rewritten, lambda t: t.restore(1)),
    "vacuum": (_rewritten, lambda t: t.vacuum(keep_last=1)),
}

# every call that changes the filesystem's names (shutil.rmtree's own
# unlink/rmdir calls included)
_FS_STEPS = [(os, "rename"), (os, "replace"), (os, "link"), (os, "remove"),
             (os, "unlink"), (os, "rmdir"), (shutil, "rmtree")]


class Crash(BaseException):
    """The process died here: this step and every later one never ran."""


def _run_crashing_at(monkeypatch, op, t, k):
    """Run ``op(t)`` as a process that dies at its k-th filesystem step
    (k=0: never); returns the number of steps that ran or were attempted."""
    state = {"n": 0, "dead": False}

    def wrap(real):
        def step(*a, **kw):
            if state["dead"]:
                raise Crash
            state["n"] += 1
            if state["n"] == k:
                state["dead"] = True
                raise Crash
            return real(*a, **kw)
        return step

    with monkeypatch.context() as m:
        for mod, name in _FS_STEPS:
            m.setattr(mod, name, wrap(getattr(mod, name)))
        try:
            op(t)
        except Crash:
            pass
    return state["n"]


@pytest.mark.parametrize("name", sorted(OPS))
def test_crash_at_any_step_leaves_before_or_after(spark, tmp_path, monkeypatch, name):
    build, op = OPS[name]
    base = build(spark, str(tmp_path / "base"))
    before = _state(base)
    ref = _copy(base, str(tmp_path / "ref"))
    steps = _run_crashing_at(monkeypatch, op, ref, 0)
    after = _state(ref)
    assert steps >= 1
    for k in range(1, steps + 1):
        t = _copy(base, str(tmp_path / f"crash{k}"))
        _run_crashing_at(monkeypatch, op, t, k)
        assert _state(t) in (before, after), f"{name}: third state after a crash at step {k}"


def test_insert_during_optimize_keeps_its_rows(spark, tmp_path, monkeypatch):
    """An insert from another thread that arrives while optimize() writes
    its new files is neither lost nor duplicated."""
    t = _flat(spark, str(tmp_path))
    real_parquet = DataFrameWriter.parquet
    inserters = []

    def parquet_then_insert(self, path, *a, **kw):
        real_parquet(self, path, *a, **kw)
        if not inserters:
            th = threading.Thread(target=t.insert, args=(_rows(100, 5),))
            inserters.append(th)
            th.start()
            th.join(timeout=2)  # lands now, or waits for the rewrite's commit

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_then_insert)
    t.optimize(target_files=1)
    inserters[0].join(timeout=60)
    assert sorted(r.id for r in t.read().collect()) == list(range(12)) + list(range(100, 105))


@pytest.mark.parametrize("config", [OlapConfig(order_by_fields=["id"]),
                                    OlapConfig(partition_by="d")],
                         ids=["arrow", "spark"])
def test_failed_commit_adds_no_visible_row(spark, tmp_path, monkeypatch, config):
    t = OlapTable("fail", Ev, spark, str(tmp_path), config, register=False)
    t.insert(_rows(0, 5))

    def no_space(*_a, **_k):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(os, "link", no_space)
    with pytest.raises(OSError):
        t.insert(_rows(5, 5))
    monkeypatch.undo()
    assert sorted(r.id for r in t.read().collect()) == list(range(5))
    assert len(t.snapshots()) == 1


def test_read_of_a_vanished_data_dir_raises(spark, tmp_path):
    t = _flat(spark, str(tmp_path))
    shutil.rmtree(t.path)
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        t.read().collect()


def test_rewrite_conflict_across_processes_raises(spark, tmp_path):
    """Two rewrites that read the same files cannot both commit: the second
    finds its removed files gone (a writer in another process, here one
    that bypasses this process's lock) and publishes nothing."""
    t = _flat(spark, str(tmp_path))
    head = t._head_files()
    t.optimize(target_files=1)
    n = len(t.snapshots())
    with pytest.raises(CommitConflict):
        t._log.commit([{"remove": {"path": head[0]}}])
    assert len(t.snapshots()) == n


def test_row_appends_checkpoint_without_a_spark_job(spark, tmp_path):
    t = OlapTable("ck", Ev, spark, str(tmp_path), OlapConfig(order_by_fields=["id"]),
                  register=False)
    sc = spark.sparkContext
    group = f"appends-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "row appends")
    try:
        for i in range(CHECKPOINT_INTERVAL + 2):
            t.insert(_rows(i, 1))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    log = t._log.log_dir
    assert f"{CHECKPOINT_INTERVAL:020d}.checkpoint.parquet" in os.listdir(log)
    assert sorted(r.id for r in t.read().collect()) == list(range(CHECKPOINT_INTERVAL + 2))
    assert t.read_at(3).count() == 3


def test_merge_reads_each_member_through_its_log(spark, tmp_path):
    """A Merge table unions member TABLES: not their projection copies or
    logs, and not the files a member's rewrite removed."""

    class M(BaseModel):
        id: int
        v: int

    wh = str(tmp_path)
    a = OlapTable("metrics_a", M, spark, wh,
                  OlapConfig(projections=[TableProjection(name="by_v", order_by=["v"])]),
                  register=False)
    a.insert([{"id": i, "v": i % 4} for i in range(10)])
    merged = OlapTable("metrics_all", M, spark, wh,
                       OlapConfig(engine=Merge(table_regex="metrics_.*")), register=False)
    assert merged.read().count() == 10
    a.delete_where("v = 3")
    a.optimize(target_files=1)
    assert sorted(r.id for r in merged.read().collect()) == [i for i in range(10) if i % 4 != 3]


def test_replay_lists_the_log_once(spark, tmp_path, monkeypatch):
    """DeltaNativeTable.snapshot() is one listing of _delta_log however many
    versions it replays."""
    from moosestack_spark.catalog.delta_native import DeltaNativeTable

    path = str(tmp_path / "d")
    log = TxLog(os.path.join(path, "_delta_log"))
    log.commit([
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet"},
                      "schemaString": '{"type":"struct","fields":[]}',
                      "partitionColumns": [], "configuration": {}}},
    ])
    for i in range(1, CHECKPOINT_INTERVAL + 5):
        log.commit([{"add": {"path": f"f{i}.parquet", "partitionValues": {},
                             "size": 1, "modificationTime": 0, "dataChange": True}}])
    listed = []
    real = os.listdir
    monkeypatch.setattr(os, "listdir", lambda p=".": listed.append(p) or real(p))
    table = DeltaNativeTable(spark, path)
    for version, n_files in ((None, CHECKPOINT_INTERVAL + 4), (5, 5), (12, 12)):
        listed.clear()
        _, files = table.snapshot(version)
        assert len(files) == n_files and listed == [log.log_dir]


def test_log_expiry_keeps_every_surviving_version_replayable(tmp_path):
    log = TxLog(str(tmp_path / "log"), first=1)
    for i in range(1, 2 * CHECKPOINT_INTERVAL + 4):
        log.commit([{"add": {"path": f"f{i}", "partitionValues": {}, "size": 1,
                             "modificationTime": 0, "dataChange": True}}]
                   + ([{"remove": {"path": f"f{i - 1}"}}] if i % 3 == 0 else []))
    want = {v: log.snapshot(v).files.keys() for v in log.versions()}
    assert log.expire(17) == 16
    assert log.versions() == list(range(17, 2 * CHECKPOINT_INTERVAL + 4))
    assert {v: log.snapshot(v).files.keys() for v in log.versions()} == {
        v: want[v] for v in log.versions()
    }
    with pytest.raises(ValueError, match="no snapshot v16"):
        log.snapshot(16)


def test_iceberg_commit_race_loser_raises(spark, tmp_path, monkeypatch):
    """Two writers that both take Iceberg version n: the one that publishes
    second raises instead of overwriting the first's metadata."""
    from moosestack_spark.catalog import iceberg_native as ice

    path = str(tmp_path / "t")
    ice.IcebergNativeTable.write(spark.range(5).selectExpr("id"), path)
    real = ice.publish
    raced = []

    def publish_after_a_rival(p, text):
        if not raced:  # a rival writer commits the same version first
            raced.append(p)
            ice.IcebergNativeTable.write(spark.range(5, 8).selectExpr("id"), path,
                                         mode="append")
        return real(p, text)

    monkeypatch.setattr(ice, "publish", publish_after_a_rival)
    with pytest.raises(FileExistsError):
        ice.IcebergNativeTable.write(spark.range(100, 103).selectExpr("id"), path,
                                     mode="append")
    assert raced[0].endswith("v2.metadata.json")
    table = ice.IcebergNativeTable(spark, path)
    assert open(os.path.join(table.meta_dir, "version-hint.text")).read() == "2"
    assert sorted(r.id for r in table.read().collect()) == list(range(8))


def test_iceberg_late_writer_leaves_the_winners_rows(spark, tmp_path, monkeypatch):
    """A rival appends and commits v2 after this writer read v1 as its base:
    the late writer raises, and the table reads exactly the committed rows
    (the two writers share no data dir and no manifest name)."""
    from moosestack_spark.catalog import iceberg_native as ice

    path = str(tmp_path / "t")
    ice.IcebergNativeTable.write(spark.range(5).selectExpr("id"), path)
    real = ice.IcebergNativeTable._current_metadata_path
    late = {}

    def base_then_a_rival(self):
        if not late:  # the late writer resolves its base, then a rival commits
            late.update(table=self, base=real(self))
            ice.IcebergNativeTable.write(spark.range(5, 8).selectExpr("id"), path,
                                         mode="append")
        return late["base"] if self is late["table"] else real(self)

    monkeypatch.setattr(ice.IcebergNativeTable, "_current_metadata_path",
                        base_then_a_rival)
    with pytest.raises(FileExistsError):
        ice.IcebergNativeTable.write(spark.range(100, 103).selectExpr("id"), path,
                                     mode="append")
    assert os.path.basename(late["base"]) == "v1.metadata.json"
    table = ice.IcebergNativeTable(spark, path)
    assert sorted(r.id for r in table.read().collect()) == list(range(8))
