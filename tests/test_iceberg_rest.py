"""Iceberg REST-catalog protocol e2e (catalog/iceberg_rest.py): register,
load, commit with optimistic concurrency (genuine interleaved-writer 409 +
rebase), read-after-commit, bearer auth, and server-side update validation.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from moosestack_spark.catalog.iceberg_rest import (
    CommitConflict,
    IcebergRestCatalog,
    IcebergRestCatalogServer,
    IcebergRestTable,
    _apply_updates,
    _check_requirements,
)


@pytest.fixture()
def server():
    s = IcebergRestCatalogServer(prefix="lake", token="tok")
    s.start()
    yield s
    s.stop()


@pytest.fixture()
def cat(server):
    return IcebergRestCatalog(f"http://127.0.0.1:{server.port}", token="tok")


@pytest.fixture()
def warehouse():
    d = tempfile.mkdtemp(prefix="msk_rest_wh_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS k", "CAST(id * 10 AS LONG) AS v"
    )


def test_config_and_namespaces(cat):
    assert cat.prefix == "lake"
    cat.create_namespace("a")
    cat.create_namespace("b")
    assert cat.list_namespaces() == ["a", "b"]
    with pytest.raises(CommitConflict):  # 409 AlreadyExists surfaces as conflict
        cat.create_namespace("a")


def test_auth_rejected_without_token(server):
    with pytest.raises(RuntimeError, match="HTTP 401"):
        IcebergRestCatalog(f"http://127.0.0.1:{server.port}")
    with pytest.raises(RuntimeError, match="HTTP 401"):
        IcebergRestCatalog(f"http://127.0.0.1:{server.port}", token="wrong")


def test_register_load_read(spark, cat, warehouse):
    cat.create_namespace("ns")
    h = IcebergRestTable.create(
        cat, "ns", "t1", _rows(spark, 0, 50), warehouse + "/t1"
    )
    assert cat.list_tables("ns") == ["t1"]
    loaded = cat.load_table("ns", "t1")
    assert loaded["metadata"]["current-snapshot-id"] is not None
    assert h.read(spark).count() == 50
    # duplicate register refused
    with pytest.raises(CommitConflict):
        cat.register_table("ns", "t1", loaded["metadata-location"])


def test_append_commit_advances_pointer(spark, cat, warehouse):
    cat.create_namespace("ns")
    h = IcebergRestTable.create(
        cat, "ns", "t2", _rows(spark, 0, 30), warehouse + "/t2"
    )
    loc1 = cat.load_table("ns", "t2")["metadata-location"]
    resp = h.append(_rows(spark, 30, 80))
    loc2 = resp["metadata-location"]
    assert loc2 != loc1 and "rest-metadata" in loc2  # server-authored
    assert cat.load_table("ns", "t2")["metadata-location"] == loc2
    df = h.read(spark)
    assert df.count() == 80
    assert df.agg({"v": "sum"}).collect()[0][0] == sum(i * 10 for i in range(80))


def test_interleaved_writers_conflict_then_rebase(spark, cat, warehouse):
    """Writer A stages on snapshot S1; writer B commits first; A's stale
    commit must 409; A's append() retry loop rebases on B's snapshot and
    lands, with BOTH appends present in the final table."""
    cat.create_namespace("ns")
    hA = IcebergRestTable.create(
        cat, "ns", "t3", _rows(spark, 0, 10), warehouse + "/t3"
    )
    hB = IcebergRestTable(cat, "ns", "t3")
    loadedA = cat.load_table("ns", "t3")
    reqsA, updatesA = hA._stage(_rows(spark, 10, 20), loadedA)
    # B wins the race with its own full append
    hB.append(_rows(spark, 100, 110))
    with pytest.raises(CommitConflict):
        cat.commit_table("ns", "t3", reqsA, updatesA)
    # A's retry loop (load -> restage -> commit) now lands cleanly
    hA.append(_rows(spark, 10, 20))
    ks = sorted(r.k for r in hA.read(spark).select("k").collect())
    assert ks == list(range(0, 20)) + list(range(100, 110))


def test_commit_on_missing_table_404(cat):
    cat.create_namespace("ns")
    with pytest.raises(RuntimeError, match="HTTP 404"):
        cat.load_table("ns", "nope")


def test_requirements_unit():
    assert _check_requirements([{"type": "assert-create"}], None) is None
    assert _check_requirements([{"type": "assert-create"}], {}) is not None
    meta = {"table-uuid": "u", "current-snapshot-id": 7}
    assert (
        _check_requirements(
            [{"type": "assert-table-uuid", "uuid": "u"}], meta
        )
        is None
    )
    assert (
        _check_requirements(
            [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": 7}],
            meta,
        )
        is None
    )
    assert "assert-ref-snapshot-id" in _check_requirements(
        [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": 6}],
        meta,
    )
    assert "unsupported" in _check_requirements([{"type": "assert-weird"}], meta)


def test_apply_updates_refuses_unknown_and_duplicates():
    meta = {
        "location": "/tmp/x",
        "snapshots": [{"snapshot-id": 1, "sequence-number": 1}],
        "current-snapshot-id": 1,
        "last-sequence-number": 1,
    }
    with pytest.raises(ValueError, match="unsupported update action"):
        _apply_updates(meta, [{"action": "remove-snapshots"}])
    with pytest.raises(ValueError, match="already present"):
        _apply_updates(
            meta,
            [{"action": "add-snapshot", "snapshot": {"snapshot-id": 1, "sequence-number": 2}}],
        )
    with pytest.raises(ValueError, match="unknown snapshot"):
        _apply_updates(
            meta,
            [{"action": "set-snapshot-ref", "ref-name": "main", "type": "branch", "snapshot-id": 99}],
        )
    out = _apply_updates(
        meta,
        [
            {"action": "add-snapshot", "snapshot": {"snapshot-id": 2, "sequence-number": 2}},
            {"action": "set-snapshot-ref", "ref-name": "main", "type": "branch", "snapshot-id": 2},
            {"action": "set-properties", "updates": {"k": "v"}},
        ],
    )
    assert out["current-snapshot-id"] == 2
    assert out["last-sequence-number"] == 2
    assert out["properties"]["k"] == "v"
    assert meta["current-snapshot-id"] == 1  # input untouched


def test_delete_through_commit_protocol(spark, cat, warehouse):
    cat.create_namespace("ns")
    h = IcebergRestTable.create(
        cat, "ns", "t4", _rows(spark, 0, 60), warehouse + "/t4"
    )
    n = h.delete_where(spark, "k % 4 = 2")
    assert n == 15
    ks = sorted(r.k for r in h.read(spark).select("k").collect())
    assert ks == [k for k in range(60) if k % 4 != 2]
    # history retained: the pre-delete snapshot still reads all 60
    first = h.snapshots()[0]["snapshot-id"]
    assert h.read(spark, snapshot_id=first).count() == 60
    # no-op delete stages nothing and leaves the pointer alone
    loc = cat.load_table("ns", "t4")["metadata-location"]
    assert h.delete_where(spark, "k > 1000") == 0
    assert cat.load_table("ns", "t4")["metadata-location"] == loc


def test_schema_drift_refused_on_commit(spark, cat, warehouse):
    cat.create_namespace("ns")
    h = IcebergRestTable.create(
        cat, "ns", "t5", _rows(spark, 0, 10), warehouse + "/t5"
    )
    widened = spark.range(10, 20).selectExpr(
        "id AS k", "CAST(id * 10 AS LONG) AS v", "'x' AS extra"
    )
    with pytest.raises(NotImplementedError, match="schema evolution"):
        h.append(widened)
    # the refused append left the catalog untouched and readable
    assert h.read(spark).count() == 10


def test_concurrent_appenders_all_land_exactly_once(spark, cat, warehouse):
    """4 threads x 2 appends race on one table through the commit
    protocol: uuid-named staging means no writer ever overwrites
    another's staged files, 409s force rebases, and the final table holds every
    batch exactly once with 1 + 8 snapshots."""
    import threading

    cat.create_namespace("ns")
    h0 = IcebergRestTable.create(
        cat, "ns", "t6", _rows(spark, 0, 10), warehouse + "/t6"
    )
    errors: list = []

    def writer(wi: int) -> None:
        try:
            h = IcebergRestTable(cat, "ns", "t6")
            for b in range(2):
                lo = 1000 * (wi + 1) + 100 * b
                h.append(_rows(spark, lo, lo + 10), max_retries=20)
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    ks = sorted(r.k for r in h0.read(spark).select("k").collect())
    want = sorted(
        list(range(10))
        + [
            1000 * (wi + 1) + 100 * b + j
            for wi in range(4)
            for b in range(2)
            for j in range(10)
        ]
    )
    assert ks == want, "rows lost or duplicated across racing commits"
    assert len(h0.snapshots()) == 9


def test_failed_delete_commit_invisible_to_directory_readers(
    spark, cat, warehouse, monkeypatch
):
    """The staged-write invariant, delete edition (ADVICE r9): a delete
    whose REST commit is rejected on every retry must stay INVISIBLE to
    directory-catalog readers of the same path — staging may not advance
    version-hint.text."""
    from moosestack_spark.catalog.iceberg_native import IcebergNativeTable
    from moosestack_spark.catalog.iceberg_rest import IcebergRestCatalog

    cat.create_namespace("ns")
    h = IcebergRestTable.create(
        cat, "ns", "t9", _rows(spark, 0, 40), warehouse + "/t9"
    )

    def always_conflict(*a, **kw):
        raise CommitConflict("injected 409")

    monkeypatch.setattr(IcebergRestCatalog, "commit_table", always_conflict)
    with pytest.raises(CommitConflict, match="lost 3 optimistic"):
        h.delete_where(spark, "k % 2 = 0")
    monkeypatch.undo()
    # directory view of the same path: still ALL 40 rows, no delete
    assert IcebergNativeTable(spark, warehouse + "/t9").read().count() == 40
    # catalog view unchanged too
    assert h.read(spark).count() == 40
    # and a subsequent healthy delete still commits cleanly
    assert h.delete_where(spark, "k % 2 = 0") == 20
    assert h.read(spark).count() == 20
    assert IcebergNativeTable(spark, warehouse + "/t9").read().count() == 40


def test_namespace_properties_roundtrip(cat):
    from moosestack_spark.catalog.iceberg_rest import IcebergRestCatalog  # noqa

    cat.create_namespace("props")
    assert cat.load_namespace("props")["properties"] == {}
    out = cat.update_namespace_properties(
        "props", updates={"owner": "etl", "retention": "30d"}
    )
    assert sorted(out["updated"]) == ["owner", "retention"]
    out = cat.update_namespace_properties(
        "props", updates={"owner": "lake"}, removals=["retention", "ghost"]
    )
    assert out["removed"] == ["retention"] and out["missing"] == ["ghost"]
    assert cat.load_namespace("props")["properties"] == {"owner": "lake"}
    # overlapping removals/updates refused (spec: must be disjoint)
    with pytest.raises(RuntimeError, match="400"):
        cat.update_namespace_properties(
            "props", updates={"k": "1"}, removals=["k"]
        )


def test_multi_table_transaction_commit_and_read(spark, cat, warehouse):
    """transactions/commit happy path: one transaction appends to BOTH
    tables; read-after-commit sees both advanced, each by one snapshot."""
    from moosestack_spark.catalog.iceberg_rest import multi_table_append

    cat.create_namespace("ns")
    ha = IcebergRestTable.create(
        cat, "ns", "ta", _rows(spark, 0, 10), warehouse + "/ta"
    )
    hb = IcebergRestTable.create(
        cat, "ns", "tb", _rows(spark, 100, 110), warehouse + "/tb"
    )
    out = multi_table_append(
        [(ha, _rows(spark, 10, 20)), (hb, _rows(spark, 110, 120))]
    )
    assert len(out["results"]) == 2
    assert sorted(r.k for r in ha.read(spark).collect()) == list(range(20))
    assert sorted(r.k for r in hb.read(spark).collect()) == list(
        range(100, 120)
    )
    assert len(ha.snapshots()) == 2 and len(hb.snapshots()) == 2


def test_transaction_all_or_nothing_on_requirement_failure(
    spark, cat, warehouse
):
    """A transaction whose SECOND table carries a stale requirement must
    apply NEITHER change — validate-all-before-apply under the lock."""
    cat.create_namespace("ns")
    ha = IcebergRestTable.create(
        cat, "ns", "tc", _rows(spark, 0, 10), warehouse + "/tc"
    )
    hb = IcebergRestTable.create(
        cat, "ns", "td", _rows(spark, 0, 10), warehouse + "/td"
    )
    la = cat.load_table("ns", "tc")
    lb = cat.load_table("ns", "td")
    reqs_a, ups_a = ha._stage(_rows(spark, 10, 20), la)
    reqs_b, ups_b = hb._stage(_rows(spark, 10, 20), lb)
    # poison B's requirement: claim a snapshot id the table is not at
    reqs_b = [{
        "type": "assert-ref-snapshot-id", "ref": "main",
        "snapshot-id": 12345,
    }]
    with pytest.raises(CommitConflict, match="td"):
        cat.commit_transaction(
            [("ns", "tc", reqs_a, ups_a), ("ns", "td", reqs_b, ups_b)]
        )
    # neither table advanced — not even the VALID first change
    assert ha.read(spark).count() == 10
    assert hb.read(spark).count() == 10
    assert len(ha.snapshots()) == 1 and len(hb.snapshots()) == 1
    # duplicate identifiers refused outright
    with pytest.raises(RuntimeError, match="duplicate"):
        cat.commit_transaction(
            [("ns", "tc", reqs_a, ups_a), ("ns", "tc", reqs_a, ups_a)]
        )


def test_racing_transactions_overlapping_tables(spark, cat, warehouse):
    """Two writers commit transactions over OVERLAPPING table sets
    ({x, y} vs {y, z}) in parallel: the server lock serializes them, the
    assert-ref-snapshot-id on the shared table 409s the loser, and the
    rebase-retry loop restages so every batch lands exactly once on
    every table."""
    import threading

    from moosestack_spark.catalog.iceberg_rest import multi_table_append

    cat.create_namespace("ns")
    hx = IcebergRestTable.create(
        cat, "ns", "tx", _rows(spark, 0, 5), warehouse + "/tx"
    )
    hy = IcebergRestTable.create(
        cat, "ns", "ty", _rows(spark, 0, 5), warehouse + "/ty"
    )
    hz = IcebergRestTable.create(
        cat, "ns", "tz", _rows(spark, 0, 5), warehouse + "/tz"
    )
    errors: list = []

    def writer(pairs, lo):
        try:
            multi_table_append(
                [(h, _rows(spark, lo, lo + 5)) for h in pairs],
                max_retries=20,
            )
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    t1 = threading.Thread(target=writer, args=([hx, hy], 100))
    t2 = threading.Thread(target=writer, args=([hy, hz], 200))
    t1.start(); t2.start()
    t1.join(timeout=300); t2.join(timeout=300)
    assert not errors, errors
    assert sorted(r.k for r in hx.read(spark).collect()) == \
        list(range(5)) + list(range(100, 105))
    assert sorted(r.k for r in hy.read(spark).collect()) == \
        list(range(5)) + list(range(100, 105)) + list(range(200, 205))
    assert sorted(r.k for r in hz.read(spark).collect()) == \
        list(range(5)) + list(range(200, 205))
    # the shared table saw both transactions: 1 create + 2 txn snapshots
    assert len(hy.snapshots()) == 3


def test_commit_conflict_is_the_table_log_error():
    """catalog/ has one "lost an optimistic commit" error."""
    from moosestack_spark.catalog import txlog

    assert CommitConflict is txlog.CommitConflict


def test_rest_staging_publishes_no_metadata_file(spark, cat, warehouse):
    """Appends and deletes through the catalog stage manifests only: the
    table's own metadata dir keeps just the v1 it was created with."""
    cat.create_namespace("ns")
    h = IcebergRestTable.create(
        cat, "ns", "t7", _rows(spark, 0, 10), warehouse + "/t7"
    )
    h.append(_rows(spark, 10, 20))
    assert h.delete_where(spark, "k = 3") == 1
    meta_dir = os.path.join(warehouse, "t7", "metadata")
    assert [f for f in os.listdir(meta_dir) if f.endswith(".json")] == [
        "v1.metadata.json"
    ]
    assert sorted(r.k for r in h.read(spark).collect()) == [
        k for k in range(20) if k != 3
    ]


def test_append_retry_restages_manifests_only(spark, cat, warehouse, monkeypatch):
    """A 409 on the first commit: the retry re-stages on the reloaded
    metadata and reuses the data files the append already wrote."""
    from moosestack_spark.catalog.iceberg_rest import IcebergRestCatalog

    cat.create_namespace("ns")
    h = IcebergRestTable.create(
        cat, "ns", "t8", _rows(spark, 0, 10), warehouse + "/t8"
    )
    real = IcebergRestCatalog.commit_table
    calls = []

    def conflict_once(self, *a, **kw):
        calls.append(a)
        if len(calls) == 1:
            raise CommitConflict("injected 409")
        return real(self, *a, **kw)

    monkeypatch.setattr(IcebergRestCatalog, "commit_table", conflict_once)
    h.append(_rows(spark, 10, 20))
    assert len(calls) == 2
    # one data dir for the create, one for the append: written once
    assert len(os.listdir(os.path.join(warehouse, "t8", "data"))) == 2
    assert sorted(r.k for r in h.read(spark).collect()) == list(range(20))
