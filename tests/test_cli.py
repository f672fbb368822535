"""CLI front-end (`python -m moosestack_spark`): plan/migrate against the
registry-reflected InfraMap, then peek/truncate/seed over the declared
tables — the `moose dev/plan/migrate` UX reduced to the library planner."""

from __future__ import annotations

import os
import sys
import textwrap

import pytest


@pytest.fixture()
def app_module(tmp_path, monkeypatch):
    """A tiny user app on sys.path declaring one table via setup()."""
    app_dir = tmp_path / "appsrc"
    app_dir.mkdir()
    (app_dir / "mini_app.py").write_text(
        textwrap.dedent(
            """
            from pydantic import BaseModel

            from moosestack_spark.catalog.table import OlapConfig, OlapTable
            from moosestack_spark.datamodel import Key

            class Event(BaseModel):
                id: Key[int]
                kind: str
                amount: float

            TABLES = {}

            def setup(spark, warehouse):
                TABLES["events"] = OlapTable(
                    "events", Event, spark, warehouse,
                    OlapConfig(order_by_fields=["id"]),
                )
                return TABLES
            """
        )
    )
    monkeypatch.syspath_prepend(str(app_dir))
    yield "mini_app"
    sys.modules.pop("mini_app", None)


def _run(argv, capsys):
    from moosestack_spark.__main__ import main

    rc = main(argv)
    return rc, capsys.readouterr().out


def test_plan_migrate_replan_lifecycle(app_module, tmp_path, capsys, spark):
    wh = str(tmp_path / "wh")
    rc, out = _run(["plan", "--app", app_module, "--warehouse", wh], capsys)
    assert rc == 0
    assert "create_table events" in out

    rc, out = _run(["migrate", "--app", app_module, "--warehouse", wh], capsys)
    assert rc == 0
    assert "applied create_table events" in out

    # re-plan after migrate: clean
    rc, out = _run(["plan", "--app", app_module, "--warehouse", wh], capsys)
    assert rc == 0
    assert "no changes" in out


def test_seed_peek_truncate(app_module, tmp_path, capsys, spark):
    wh = str(tmp_path / "wh")
    _run(["migrate", "--app", app_module, "--warehouse", wh], capsys)

    src = tmp_path / "src.parquet"
    spark.createDataFrame(
        [(i, "k", float(i)) for i in range(20)], "id long, kind string, amount double"
    ).write.parquet(str(src))

    rc, out = _run(
        ["seed", "--app", app_module, "--warehouse", wh, "--table", "events",
         "--from-parquet", str(src), "--where", "id < 5"],
        capsys,
    )
    assert rc == 0 and "seeded 5 row(s)" in out

    rc, out = _run(
        ["peek", "--app", app_module, "--warehouse", wh, "--table", "events", "-n", "3"],
        capsys,
    )
    assert rc == 0 and len(out.strip().splitlines()) == 3

    rc, out = _run(
        ["truncate", "--app", app_module, "--warehouse", wh, "--table", "events"],
        capsys,
    )
    assert rc == 0
    rc, out = _run(
        ["peek", "--app", app_module, "--warehouse", wh, "--table", "events"],
        capsys,
    )
    assert out.strip() == ""


def test_unknown_table_errors(app_module, tmp_path, capsys, spark):
    wh = str(tmp_path / "wh")
    with pytest.raises(SystemExit):
        _run(["peek", "--app", app_module, "--warehouse", wh, "--table", "nope"], capsys)


def test_peek_at_version_and_changed_files(app_module, tmp_path, capsys, spark):
    """VERDICT r4 item 8: the snapshot/time-travel layer is reachable from
    the CLI — peek --at-version, snapshots, changed-files."""
    import json as _json

    wh = str(tmp_path / "wh")
    rc, _ = _run(["migrate", "--app", app_module, "--warehouse", wh], capsys)
    assert rc == 0

    # two inserts -> two snapshots
    import importlib

    mod = importlib.import_module(app_module)
    tbl = mod.TABLES["events"]
    tbl.insert([{"id": 1, "kind": "a", "amount": 1.0}])
    tbl.insert([{"id": 2, "kind": "b", "amount": 2.0}])

    rc, out = _run(
        ["snapshots", "--app", app_module, "--warehouse", wh, "--table", "events"],
        capsys,
    )
    assert rc == 0
    snaps = [_json.loads(line) for line in out.strip().splitlines()]
    assert [s["version"] for s in snaps] == [1, 2]

    # time travel: v1 has one row, head has two
    rc, out = _run(
        ["peek", "--app", app_module, "--warehouse", wh, "--table", "events",
         "--at-version", "1"],
        capsys,
    )
    assert rc == 0
    rows = [_json.loads(line) for line in out.strip().splitlines()]
    assert [r["id"] for r in rows] == [1]

    rc, out = _run(
        ["peek", "--app", app_module, "--warehouse", wh, "--table", "events"],
        capsys,
    )
    assert len(out.strip().splitlines()) == 2

    # incremental feed: exactly the files v2 added
    rc, out = _run(
        ["changed-files", "--app", app_module, "--warehouse", wh,
         "--table", "events", "1", "2"],
        capsys,
    )
    assert rc == 0
    files = out.strip().splitlines()
    assert files and all(f.endswith(".parquet") for f in files)
    v1_files = set(snaps[0]["files"])
    v2_files = set(snaps[1]["files"])
    assert set(files) == v2_files - v1_files


def test_optimize_and_restore_cli(app_module, tmp_path, capsys, spark):
    import importlib

    wh = str(tmp_path / "wh")
    _run(["migrate", "--app", app_module, "--warehouse", wh], capsys)
    mod = importlib.import_module(app_module)
    tbl = mod.TABLES["events"]
    for i in range(3):  # 3 inserts -> 3 small files, 3 snapshots
        tbl.insert([{"id": i, "kind": "k", "amount": float(i)}])

    rc, out = _run(
        ["optimize", "--app", app_module, "--warehouse", wh,
         "--table", "events", "--target-files", "1"],
        capsys,
    )
    assert rc == 0 and "optimized events into 1 file(s)" in out
    assert len(tbl._head_files()) == 1
    assert sorted(r.id for r in tbl.read().collect()) == [0, 1, 2]

    # restore to the post-optimize snapshot drops the later insert's file
    # from the live set and deletes nothing
    rc, out = _run(
        ["snapshots", "--app", app_module, "--warehouse", wh, "--table", "events"],
        capsys,
    )
    import json as _json

    snaps = [_json.loads(line) for line in out.strip().splitlines()]
    head = snaps[-1]["version"]
    tbl.insert([{"id": 9, "kind": "z", "amount": 9.0}])
    rc, out = _run(
        ["restore", "--app", app_module, "--warehouse", wh,
         "--table", "events", str(head)],
        capsys,
    )
    assert rc == 0 and f"restored events to snapshot v{head}" in out
    assert "(1 file(s) removed from the live set, none deleted)" in out
    assert sorted(r.id for r in tbl.read().collect()) == [0, 1, 2]
    # a version from before the optimize is still there to restore
    rc, out = _run(
        ["restore", "--app", app_module, "--warehouse", wh,
         "--table", "events", "1"],
        capsys,
    )
    assert "(1 file(s) removed from the live set, none deleted)" in out
    assert [r.id for r in tbl.read().collect()] == [0]


def test_ttl_cli(tmp_path, capsys, spark, monkeypatch):
    import sys as _sys
    import textwrap as _tw

    app_dir = tmp_path / "appsrc2"
    app_dir.mkdir()
    (app_dir / "ttl_app.py").write_text(
        _tw.dedent(
            """
            import datetime as dt
            from pydantic import BaseModel

            from moosestack_spark.catalog.table import OlapConfig, OlapTable
            from moosestack_spark.datamodel import Key

            class Row(BaseModel):
                id: Key[int]
                at: dt.datetime

            TABLES = {}

            def setup(spark, warehouse):
                TABLES["rows"] = OlapTable(
                    "rows", Row, spark, warehouse,
                    OlapConfig(order_by_fields=["id"],
                               ttl="at + INTERVAL 30 DAY"),
                )
                return TABLES
            """
        )
    )
    monkeypatch.syspath_prepend(str(app_dir))
    try:
        import datetime as dt
        import importlib

        wh = str(tmp_path / "wh2")
        _run(["migrate", "--app", "ttl_app", "--warehouse", wh], capsys)
        tbl = importlib.import_module("ttl_app").TABLES["rows"]
        now = dt.datetime.now()
        tbl.insert([
            {"id": 1, "at": now - dt.timedelta(days=90)},
            {"id": 2, "at": now},
        ])
        rc, out = _run(
            ["ttl", "--app", "ttl_app", "--warehouse", wh, "--table", "rows"],
            capsys,
        )
        assert rc == 0 and "ttl removed 1 row(s) from rows" in out
        assert [r.id for r in tbl.read().collect()] == [2]
    finally:
        _sys.modules.pop("ttl_app", None)


def test_vacuum_cli(app_module, tmp_path, capsys, spark):
    import importlib

    wh = str(tmp_path / "wh")
    _run(["migrate", "--app", app_module, "--warehouse", wh], capsys)
    tbl = importlib.import_module(app_module).TABLES["events"]
    for i in range(4):
        tbl.insert([{"id": i, "kind": "k", "amount": float(i)}])
    tbl.optimize(target_files=1)  # v5 removes the 4 insert files
    rc, out = _run(
        ["vacuum", "--app", app_module, "--warehouse", wh,
         "--table", "events", "--keep-last", "2"],
        capsys,
    )
    # keeping v4 and v5 keeps the insert files v4 reads
    assert rc == 0 and "3 version(s) expired, 0 unreferenced file(s) deleted" in out
    assert len(tbl.snapshots()) == 2
    rc, out = _run(
        ["vacuum", "--app", app_module, "--warehouse", wh,
         "--table", "events", "--keep-last", "1"],
        capsys,
    )
    assert rc == 0 and "1 version(s) expired, 4 unreferenced file(s) deleted" in out
    assert tbl.read().count() == 4


def test_metrics_cli(app_module, tmp_path, capsys, spark):
    import importlib
    import json as _json

    wh = str(tmp_path / "wh")
    _run(["migrate", "--app", app_module, "--warehouse", wh], capsys)
    tbl = importlib.import_module(app_module).TABLES["events"]
    tbl.insert([
        {"id": 1, "kind": "a", "amount": 1.5},
        {"id": 2, "kind": "b", "amount": 2.5},
    ])
    rc, out = _run(
        ["metrics", "--app", app_module, "--warehouse", wh, "--table", "events"],
        capsys,
    )
    assert rc == 0
    lines = [_json.loads(line) for line in out.strip().splitlines()]
    head = lines[0]
    assert (head["rows"], head["files"], head["snapshots"]) == (2, 1, 1)
    assert head["bytes"] == os.path.getsize(os.path.join(tbl.path, tbl._head_files()[0]))
    prof = {r["column"]: r for r in lines[1:]}
    assert prof["kind"]["n_distinct"] == 2
    assert prof["id"]["min_str"] == "1" and prof["id"]["max_str"] == "2"


def test_dev_watch_loop_applies_changes(app_module, tmp_path, capsys, spark):
    """`dev`: edit the app module -> the loop re-plans and applies the new
    table on the next poll (bounded by --max-iterations for the test)."""
    import threading
    import time as _time
    from pathlib import Path

    wh = str(tmp_path / "wh")
    src = None
    for p in map(Path, __import__("sys").path):
        cand = p / f"{app_module}.py"
        if cand.exists():
            src = cand
            break
    assert src is not None

    def run_dev():
        from moosestack_spark.__main__ import main

        main([
            "dev", "--app", app_module, "--warehouse", wh,
            "--poll-interval", "0.3", "--max-iterations", "20",
        ])

    th = threading.Thread(target=run_dev, daemon=True)
    th.start()
    # wait for the initial migrate to land
    for _ in range(100):
        if (Path(wh) / "default" / "events").is_dir():
            break
        _time.sleep(0.2)
    assert (Path(wh) / "default" / "events").is_dir()

    # edit the app: add a second table
    text = src.read_text()
    text = text.replace(
        'TABLES["events"] = OlapTable(',
        'TABLES["extra"] = OlapTable(\n'
        '        "extra", Event, spark, warehouse,\n'
        '        OlapConfig(order_by_fields=["id"]),\n'
        '    )\n'
        '    TABLES["events"] = OlapTable(',
    )
    src.write_text(text)
    for _ in range(100):
        if (Path(wh) / "default" / "extra").is_dir():
            break
        _time.sleep(0.2)
    th.join(timeout=30)
    assert (Path(wh) / "default" / "extra").is_dir()


def test_cli_lake_maintenance_e2e(spark, tmp_path, capsys):
    """moose lake compact/expire/vacuum/snapshots drive the native lake
    layers end-to-end from the CLI."""
    from pyspark.sql import functions as F

    from moosestack_spark.__main__ import main as cli_main
    from moosestack_spark.catalog.delta_native import DeltaNativeTable
    from moosestack_spark.catalog.iceberg_native import IcebergNativeTable

    df = spark.range(0, 40).select(F.col("id").alias("k"))
    ice = str(tmp_path / "ice")
    t1 = IcebergNativeTable.write(df.repartition(4), ice)
    t1.delete_where("k % 5 = 1")
    assert cli_main(["lake", "compact", "--format", "iceberg",
                     "--path", ice]) == 0
    assert cli_main(["lake", "expire", "--format", "iceberg", "--path", ice,
                     "--keep-last", "1"]) == 0
    assert cli_main(["lake", "snapshots", "--format", "iceberg",
                     "--path", ice]) == 0
    assert t1.read().count() == 32

    dl = str(tmp_path / "dl")
    t2 = DeltaNativeTable.write(df.repartition(4), dl)
    t2.delete_where("k % 5 = 1")
    assert cli_main(["lake", "compact", "--format", "delta",
                     "--path", dl]) == 0
    assert cli_main(["lake", "vacuum", "--format", "delta", "--path", dl,
                     "--keep-last", "1"]) == 0
    assert t2.read().count() == 32
    out = capsys.readouterr().out
    assert "compacted" in out and "vacuumed" in out and "expired" in out
