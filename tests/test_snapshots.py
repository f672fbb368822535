"""Snapshot / time-travel semantics on OlapTable: one log commit per
write, read_at isolation, incremental file feed, pre-rewrite versions
readable until vacuum, truncate, drop."""

from __future__ import annotations

import pytest
from pydantic import BaseModel

from moosestack_spark.catalog.table import OlapTable
from moosestack_spark.datamodel import Key


class Ev(BaseModel):
    id: Key[int]
    kind: str
    amount: float


@pytest.fixture()
def table(spark, tmp_path):
    return OlapTable("snap_events", Ev, spark, str(tmp_path / "wh"))


def _rows(i0, n, kind):
    return [{"id": i, "kind": kind, "amount": float(i)} for i in range(i0, i0 + n)]


def test_each_append_commits_a_readable_snapshot(table):
    table.insert(_rows(0, 5, "a"))
    table.insert(_rows(5, 3, "b"))
    snaps = table.snapshots()
    assert [s["version"] for s in snaps] == [1, 2]
    assert all(s["op"] == "append" for s in snaps)
    assert table.read_at(1).count() == 5
    assert table.read_at(2).count() == 8
    assert table.read().count() == 8
    # v1 is isolated from the later append
    assert {r.kind for r in table.read_at(1).collect()} == {"a"}


def test_changed_files_is_the_incremental_feed(table, spark):
    table.insert(_rows(0, 5, "a"))
    table.insert(_rows(5, 3, "b"))
    new_files = table.changed_files(1, 2)
    assert new_files and set(new_files) < set(table.snapshots()[1]["files"])
    # reading ONLY the delta files yields exactly the second batch
    import os

    paths = [os.path.join(table.path, f) for f in new_files]
    delta = spark.read.schema(table.schema).parquet(*paths)
    assert {r.kind for r in delta.collect()} == {"b"} and delta.count() == 3


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pre_rewrite_versions_read_back_until_vacuum(table):
    """A rewrite commits remove + add and deletes nothing, so every version
    before it reads back identically until vacuum expires it."""
    table.insert(_rows(0, 5, "a"))
    table.insert(_rows(5, 5, "b"))
    before = {v: _sorted_rows(table.read_at(v)) for v in (1, 2)}
    assert table.delete_where("kind = 'a'") == 5
    table.update_where({"amount": "amount + 1"}, "id = 7")
    table.optimize(target_files=1)
    snaps = table.snapshots()
    assert [s["op"] for s in snaps] == ["append", "append", "rewrite", "rewrite", "rewrite"]
    assert table.read_at(5).count() == 5
    assert {v: _sorted_rows(table.read_at(v)) for v in (1, 2)} == before
    table.vacuum(keep_last=1)
    with pytest.raises(ValueError, match="no snapshot v2"):
        table.read_at(2)
    assert _sorted_rows(table.read()) == _sorted_rows(table.read_at(5))


def test_truncate_commits_empty_snapshot_keeps_history(table):
    table.insert(_rows(0, 4, "a"))
    table.truncate()
    snaps = table.snapshots()
    assert snaps[-1]["op"] == "truncate" and snaps[-1]["files"] == []
    assert table.read_at(len(snaps)).count() == 0
    assert len(snaps) == 2 and table.read_at(1).count() == 4  # history retained


def test_drop_removes_history(table):
    """A table re-created under a dropped table's name starts with no
    history: the log and projection siblings go with the data."""
    table.insert(_rows(0, 4, "a"))
    table.insert(_rows(4, 2, "b"))
    table.drop()
    again = OlapTable("snap_events", Ev, table.spark, table.warehouse)
    again.insert(_rows(0, 1, "c"))
    assert [s["version"] for s in again.snapshots()] == [1]
    assert again.read_at(1).count() == 1


def test_restore_rolls_back_without_copying(table):
    table.insert(_rows(0, 5, "a"))
    table.insert(_rows(5, 3, "b"))
    removed = table.restore(1)
    assert removed >= 1
    assert table.read().count() == 5
    assert {r.kind for r in table.read().collect()} == {"a"}
    snaps = table.snapshots()
    assert snaps[-1]["op"] == "restore v1"
    # the version the restore rolled back stays readable, and a version
    # from before a rewrite can still be restored
    assert table.read_at(2).count() == 8
    table.delete_where("id = 0")
    table.restore(2)
    assert table.read().count() == 8


def test_streaming_foreachbatch_appends_commit_snapshots(table, spark, tmp_path):
    """A foreachBatch stream sink lands through _append_df, so every
    micro-batch is a snapshot — free replayable history for streamed
    tables."""
    import json

    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    (src_dir / "b1.json").write_text(
        "\n".join(json.dumps({"id": i, "kind": "s", "amount": 1.0}) for i in range(3))
    )
    stream = (
        spark.readStream.schema("id long, kind string, amount double")
        .json(str(src_dir))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _bid: table._append_df(df)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    snaps = table.snapshots()
    assert snaps and snaps[-1]["op"] == "append"
    assert table.read_at(len(snaps)).count() == 3


def test_vacuum_expires_history_and_orphans(spark, tmp_path):
    """VACUUM: old versions go, data files no kept version references
    go, surviving versions stay readable BY NUMBER, and the next commit
    does not reuse an expired version number."""
    import os

    import pytest
    from pydantic import BaseModel

    from moosestack_spark.catalog.engines import OlapConfig
    from moosestack_spark.catalog.table import OlapTable

    class R(BaseModel):
        id: int

    tbl = OlapTable("vac_t", R, spark, str(tmp_path),
                    OlapConfig(order_by_fields=["id"]), register=False)
    for i in range(5):
        tbl.insert([{"id": i}])
    assert [s["version"] for s in tbl.snapshots()] == [1, 2, 3, 4, 5]

    # restore to v2 removes the files v3-v5 added from the live set (and
    # deletes nothing), then vacuum keep_last=2 trims history to the last two
    tbl.restore(2)  # commits v6
    man_rm, files_rm = tbl.vacuum(keep_last=2)
    assert man_rm == 4  # v1..v4 gone, v5+v6 kept
    vs = [s["version"] for s in tbl.snapshots()]
    assert vs == [5, 6]

    # surviving version lookups work by NUMBER despite the gap
    assert sorted(r.id for r in tbl.read_at(6).collect()) == [0, 1]
    with pytest.raises(ValueError, match="no snapshot v2"):
        tbl.read_at(2)
    with pytest.raises((ValueError, FileNotFoundError)):
        tbl.changed_files(1, 6)

    # next commit continues from the max version, never reusing numbers
    tbl.insert([{"id": 99}])
    assert [s["version"] for s in tbl.snapshots()] == [5, 6, 7]
    assert sorted(r.id for r in tbl.read().collect()) == [0, 1, 99]

    # v5 still references the files v3-v5 added, so they stayed; keeping
    # only v7 makes them unreferenced, and vacuum deletes them
    assert files_rm == 0
    man_rm, files_rm = tbl.vacuum(keep_last=1)
    assert man_rm == 2 and [s["version"] for s in tbl.snapshots()] == [7]
    assert files_rm == 3
    assert sorted(r.id for r in tbl.read().collect()) == [0, 1, 99]


def test_vacuum_refuses_unmanaged_and_empty_history(spark, tmp_path):
    """Review r5: vacuum must never wipe a table it cannot prove
    referenced — no log means no-op, non-FULLY_MANAGED lifecycles
    refuse outright."""
    import os

    import pytest
    from pydantic import BaseModel

    from moosestack_spark.catalog.engines import LifeCycle, OlapConfig
    from moosestack_spark.catalog.table import OlapTable

    class R(BaseModel):
        id: int

    # externally-written data, no snapshots: vacuum is a no-op, files stay
    ext = OlapTable(
        "ext_t", R, spark, str(tmp_path),
        OlapConfig(life_cycle=LifeCycle.EXTERNALLY_MANAGED), register=False,
    )
    spark.range(5).selectExpr("id").write.mode("overwrite").parquet(ext.path)
    with pytest.raises(PermissionError):
        ext.vacuum()
    assert ext.read().count() == 5

    managed = OlapTable("noman_t", R, spark, str(tmp_path), register=False)
    # write files directly (no snapshot commit): refuse to guess
    spark.range(3).selectExpr("id").write.mode("overwrite").parquet(managed.path)
    assert managed.snapshots() == []
    assert managed.vacuum() == (0, 0)
    assert managed.read().count() == 3


def test_stray_files_in_snapshot_dir_are_ignored(table):
    """A file in the log dir that is not a commit or a checkpoint (editor
    backup, version.json) must not break snapshots()/read_at()/vacuum() —
    strict name match only (round-6 ADVICE fix)."""
    import os

    table.insert(_rows(0, 4, "a"))
    table.insert(_rows(4, 2, "b"))
    snapdir = table._log.log_dir
    for stray in ["version.json", "v1.json~", "vfinal.json", ".DS_Store"]:
        with open(os.path.join(snapdir, stray), "w") as fh:
            fh.write("{}")
    assert [s["version"] for s in table.snapshots()] == [1, 2]
    assert table.read_at(1).count() == 4
    # vacuum must neither crash on nor delete the stray files
    table.vacuum(keep_last=1)
    assert os.path.exists(os.path.join(snapdir, "version.json"))
    assert table.read().count() == 6
