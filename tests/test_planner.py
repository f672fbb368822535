"""Migration planner tests (reference: diff_strategy.rs + ddl_ordering.rs
inline tests, framework-cli-e2e migration.test.ts shapes)."""

from __future__ import annotations

import os

import pytest

from moosestack_spark.catalog.planner import (
    ColumnSpec,
    InfraMap,
    MaterializedViewSpec,
    Op,
    TableSpec,
    ViewSpec,
    diff_tables,
    load_state,
    plan_changes,
    save_state,
)


def _t(name, cols, **kw):
    return TableSpec(name=name, columns=[ColumnSpec(*c) for c in cols], **kw)


def test_create_and_drop():
    cur = InfraMap()
    tgt = InfraMap(tables={"a": _t("a", [("id", "bigint")])})
    assert [o.kind for o in plan_changes(cur, tgt)] == ["create_table"]
    assert [o.kind for o in plan_changes(tgt, cur)] == ["drop_table"]


def test_alter_add_drop_modify():
    cur = InfraMap(tables={"a": _t("a", [("id", "bigint"), ("x", "string"), ("gone", "int")])})
    tgt = InfraMap(
        tables={"a": _t("a", [("id", "bigint"), ("x", "double"), ("new_col", "string")])}
    )
    kinds = {(o.kind, o.detail.split(":")[0]) for o in plan_changes(cur, tgt)}
    assert kinds == {
        ("add_column", "new_col"),
        ("modify_column", "x"),
        ("drop_column", "gone"),
    }


def test_order_by_change_forces_recreate():
    cur = InfraMap(tables={"a": _t("a", [("id", "bigint")], order_by=("id",))})
    tgt = InfraMap(tables={"a": _t("a", [("id", "bigint")])})
    assert [o.kind for o in plan_changes(cur, tgt)] == ["recreate_table"]


def test_engine_change_forces_recreate():
    cur = InfraMap(tables={"a": _t("a", [("id", "bigint")], engine="MergeTree")})
    tgt = InfraMap(tables={"a": _t("a", [("id", "bigint")], engine="ReplacingMergeTree")})
    assert [o.kind for o in plan_changes(cur, tgt)] == ["recreate_table"]


def test_settings_only_alter():
    cur = InfraMap(tables={"a": _t("a", [("id", "bigint")])})
    tgt = InfraMap(tables={"a": _t("a", [("id", "bigint")], settings={"ttl": "30d"})})
    assert [o.kind for o in plan_changes(cur, tgt)] == ["modify_settings"]


def test_view_update_on_sql_change():
    cur = InfraMap(views={"v": ViewSpec("v", "SELECT 1")})
    tgt = InfraMap(views={"v": ViewSpec("v", "SELECT 2")})
    assert [o.kind for o in plan_changes(cur, tgt)] == ["update_view"]
    same = InfraMap(views={"v": ViewSpec("v", "  SELECT 1  ")})  # normalized
    assert plan_changes(cur, same) == []


def test_mv_depends_on_tables_ordering():
    cur = InfraMap()
    tgt = InfraMap(
        tables={
            "src": _t("src", [("id", "bigint")]),
            "agg": _t("agg", [("id", "bigint"), ("n", "bigint")]),
        },
        materialized_views={
            "mv": MaterializedViewSpec("mv", "SELECT ...", ("src",), "agg")
        },
    )
    ops = plan_changes(cur, tgt)
    kinds = [o.kind for o in ops]
    # tables created before the MV; populate after create_mv
    assert kinds.index("create_mv") > kinds.index("create_table")
    assert kinds.index("populate_mv") > kinds.index("create_mv")


def test_drop_mv_before_dropping_source_table():
    cur = InfraMap(
        tables={"src": _t("src", [("id", "bigint")])},
        materialized_views={"mv": MaterializedViewSpec("mv", "S", ("src",), "tgt")},
    )
    tgt = InfraMap()
    kinds = [o.kind for o in plan_changes(cur, tgt)]
    assert kinds.index("drop_mv") < kinds.index("drop_table")


def test_state_roundtrip(tmp_path):
    m = InfraMap(
        tables={"a": _t("a", [("id", "bigint"), ("x", "string", True)], order_by=("id",))},
        views={"v": ViewSpec("v", "SELECT 1", ("a",))},
        materialized_views={"mv": MaterializedViewSpec("mv", "SELECT id FROM a", ("a",), "b")},
    )
    save_state(str(tmp_path), m)
    back = load_state(str(tmp_path))
    assert back.tables["a"].order_by == ("id",)
    assert back.tables["a"].columns[1].nullable is True
    assert back.materialized_views["mv"].source_tables == ("a",)
    assert plan_changes(back, m) == []  # no drift
    assert load_state(str(tmp_path / "missing")).tables == {}


def test_failed_state_write_keeps_previous_state(tmp_path):
    good = InfraMap(tables={"a": _t("a", [("id", "bigint")])})
    save_state(str(tmp_path), good)
    # a value to_json cannot encode fails the write midway
    bad = InfraMap(views={"v": ViewSpec("v", object(), ("a",))})
    with pytest.raises(TypeError):
        save_state(str(tmp_path), bad)
    assert os.listdir(tmp_path) == ["_state.json"]
    assert plan_changes(load_state(str(tmp_path)), good) == []


# -- reality check (infra_reality_checker.rs) --------------------------------


def _spec_of(tbl):
    """Planner spec for an OlapTable's storage schema."""
    return TableSpec(
        name=tbl.physical_name,
        columns=[
            ColumnSpec(f.name, f.dataType.simpleString(), f.nullable)
            for f in tbl.read_raw().schema.fields
        ],
    )


def test_reality_check_detects_external_mutation(spark, tmp_path):
    import pyspark.sql.functions as F
    from pydantic import BaseModel

    from moosestack_spark.catalog.planner import (
        check_reality,
        plan_against_reality,
    )
    from moosestack_spark.catalog.table import OlapTable

    class M(BaseModel):
        id: int
        v: float

    wh = str(tmp_path)
    tbl = OlapTable("m", M, spark, wh)
    tbl.insert([{"id": 1, "v": 1.0}])
    saved = InfraMap(tables={"m": _spec_of(tbl)})
    target = InfraMap(tables={"m": _spec_of(tbl)})

    # in-sync: no discrepancies, empty plan
    disc = check_reality(spark, wh, saved)
    assert disc.is_empty()
    ops, disc = plan_against_reality(spark, wh, saved, target)
    assert ops == [] and disc.is_empty()

    # external mutation: someone rewrote the table dropping a column
    mutated = tbl.read_raw().drop("v")
    mutated.write.mode("overwrite").parquet(str(tmp_path / "rewrite"))
    import shutil as _sh

    _sh.rmtree(tbl.path)
    _sh.move(str(tmp_path / "rewrite"), tbl.path)

    disc = check_reality(spark, wh, saved)
    assert [op.kind for op in disc.mismatched_tables] == ["drop_column"]
    # the reality-checked plan restores the target column — the saved-state
    #-only diff would have produced NO ops (saved == target)
    ops, _ = plan_against_reality(spark, wh, saved, target)
    assert [(o.kind, o.detail) for o in ops] == [("add_column", "v")]


def test_reality_check_unmapped_and_missing(spark, tmp_path):
    from pydantic import BaseModel

    from moosestack_spark.catalog.planner import check_reality, reconcile
    from moosestack_spark.catalog.table import OlapTable

    class M(BaseModel):
        id: int

    wh = str(tmp_path)
    tbl = OlapTable("real_tbl", M, spark, wh)
    tbl.insert([{"id": 1}])
    ghost = TableSpec(name="ghost", columns=[ColumnSpec("id", "bigint", True)])
    saved = InfraMap(tables={"ghost": ghost})

    disc = check_reality(spark, wh, saved)
    assert disc.missing_tables == ["ghost"]
    assert [t.name for t in disc.unmapped_tables] == ["real_tbl"]

    current = reconcile(saved, disc)
    assert set(current.tables) == {"real_tbl"}
    # dropping the unmapped external table is now plannable
    ops = plan_changes(current, InfraMap())
    assert [o.kind for o in ops] == ["drop_table"]


# -- column position + enum equivalence (infrastructure_map.rs:3703-3727;
#    diff_strategy.rs enums_are_equivalent) ---------------------------------


def test_add_column_carries_position():
    cur = _t("t", [("a", "int", False), ("c", "int", False)])
    tgt = _t(
        "t",
        [("first", "int", False), ("a", "int", False), ("b", "int", False), ("c", "int", False)],
    )
    ops = diff_tables(cur, tgt)
    by_detail = {o.detail: o for o in ops if o.kind == "add_column"}
    assert by_detail["first"].position_after is None  # FIRST
    assert by_detail["b"].position_after == "a"


def test_enum_equivalence_rules():
    from moosestack_spark.catalog.planner import enums_are_equivalent

    # source string enum vs its warehouse int-mapped form: equivalent
    ts = [("TEXT", "text"), ("NUM", "num")]
    ch = [("text", 1), ("num", 2)]
    assert enums_are_equivalent(ch, ts)
    # order-insensitive
    assert enums_are_equivalent([("num", 2), ("text", 1)], ts)
    # same-form same-members
    assert enums_are_equivalent(ts, list(ts))
    # differing values / counts / names
    assert not enums_are_equivalent([("text", 1)], ts)
    assert not enums_are_equivalent([("other", 1), ("num", 2)], ts)
    # both source-side with different enum type names
    assert not enums_are_equivalent(ts, list(ts), "EnumA", "EnumB")
    assert enums_are_equivalent(ts, list(ts), "EnumA", "EnumA")


def test_enum_equivalent_columns_do_not_modify():
    from moosestack_spark.catalog.planner import ColumnSpec as CS

    cur = TableSpec(
        "t",
        [CS("kind", "tinyint", False, enum_name="Baz", enum_members=(("text", 1), ("num", 2)))],
    )
    tgt = TableSpec(
        "t",
        [CS("kind", "string", False, enum_name="Baz", enum_members=(("TEXT", "text"), ("NUM", "num")))],
    )
    assert diff_tables(cur, tgt) == []
    # genuinely different enum -> modify
    tgt2 = TableSpec(
        "t",
        [CS("kind", "string", False, enum_name="Baz", enum_members=(("TEXT", "text"), ("BOOL", "bool")))],
    )
    assert [o.kind for o in diff_tables(cur, tgt2)] == ["modify_column"]


def test_reality_check_partitioned_table_no_false_drift(spark, tmp_path):
    """Review r2: partition-dir type inference (day="2024-01-01" -> DATE)
    must not report spurious column drift on a partitioned table."""
    from pydantic import BaseModel

    from moosestack_spark.catalog.engines import OlapConfig
    from moosestack_spark.catalog.planner import check_reality
    from moosestack_spark.catalog.table import OlapTable

    class M(BaseModel):
        id: int
        day: str

    wh = str(tmp_path)
    tbl = OlapTable("part_m", M, spark, wh, OlapConfig(partition_by="day"))
    tbl.insert([{"id": 1, "day": "2024-01-01"}, {"id": 2, "day": "2024-01-02"}])
    spec = _spec_of(tbl)
    spec.partition_by = "day"
    disc = check_reality(spark, wh, InfraMap(tables={"part_m": spec}))
    assert disc.is_empty(), [
        (o.kind, o.target, o.detail) for o in disc.mismatched_tables
    ]


def test_reality_check_double_underscore_table_not_missing(spark, tmp_path):
    """Review r2: a user table legitimately named with "__" must not be
    filtered as an infra sibling (was falsely re-created)."""
    from pydantic import BaseModel

    from moosestack_spark.catalog.planner import check_reality
    from moosestack_spark.catalog.table import OlapTable

    class M(BaseModel):
        id: int

    wh = str(tmp_path)
    tbl = OlapTable("user__events", M, spark, wh)
    tbl.insert([{"id": 1}])
    saved = InfraMap(tables={"user__events": _spec_of(tbl)})
    disc = check_reality(spark, wh, saved)
    assert disc.missing_tables == []
    assert disc.is_empty()


def test_reality_check_skips_table_logs(spark, tmp_path):
    """A table's log dir holds checkpoint parquet once it reaches its 10th
    version; it is the table's, not an unmapped table."""
    import os

    from pydantic import BaseModel

    from moosestack_spark.catalog.planner import check_reality
    from moosestack_spark.catalog.table import OlapTable

    class M(BaseModel):
        id: int

    wh = str(tmp_path)
    tbl = OlapTable("logged", M, spark, wh, register=False)
    for i in range(10):
        tbl.insert([{"id": i}])
    log_dir = tbl.path + "__snapshots"
    assert any(f.endswith(".checkpoint.parquet") for f in os.listdir(log_dir))
    disc = check_reality(spark, wh, InfraMap(tables={"logged": _spec_of(tbl)}))
    assert disc.is_empty(), disc


def test_dropped_table_leaves_no_history(spark, tmp_path):
    """A drop_table op removes the table's log with its data, so a table
    created again at that path starts at version 1 and reads."""
    from pydantic import BaseModel

    from moosestack_spark.catalog.planner import execute_ops
    from moosestack_spark.catalog.table import OlapTable

    class M(BaseModel):
        id: int

    wh = str(tmp_path)
    tbl = OlapTable("gone", M, spark, wh, register=False)
    tbl.insert([{"id": 1}])
    tbl.insert([{"id": 2}])
    current = InfraMap(tables={"gone": _spec_of(tbl)})
    execute_ops(wh, plan_changes(current, InfraMap()), current=current, target=InfraMap())
    again = OlapTable("gone", M, spark, wh, register=False)
    again.insert([{"id": 3}])
    assert [s["version"] for s in again.snapshots()] == [1]
    assert [r.id for r in again.read().collect()] == [3]


def test_enum_equivalence_requires_bijection():
    """Review r2: two target members matching the SAME actual member must
    not pass (non-bijective match hid real enum drift)."""
    from moosestack_spark.catalog.planner import enums_are_equivalent

    assert not enums_are_equivalent(
        [("x", 1), ("y", 2)], [("A", "x"), ("B", "x")]
    )
    # honest warehouse-form match still passes
    assert enums_are_equivalent(
        [("x", 1), ("y", 2)], [("A", "x"), ("B", "y")]
    )


def test_versioned_nondefault_db_lifecycle(spark, tmp_path):
    """ADVICE r4 (medium): execute_ops / check_reality must resolve a
    versioned, non-default-database table at OlapTable.path
    (warehouse/<db>/<name>_<v>) — not warehouse/default/<logical name> —
    or the table is created at the wrong directory and reports perpetual
    drift."""
    from pydantic import BaseModel

    from moosestack_spark.catalog.engines import OlapConfig
    from moosestack_spark.catalog.planner import (
        check_reality,
        execute_ops,
        plan_against_reality,
        table_dir,
    )
    from moosestack_spark.catalog.resources import table_to_spec
    from moosestack_spark.catalog.table import OlapTable

    class M(BaseModel):
        id: int

    wh = str(tmp_path)
    tbl = OlapTable(
        "vt", M, spark, wh, config=OlapConfig(version="1.0", database="analytics")
    )
    spec = table_to_spec(tbl)
    assert spec.version == "1.0" and spec.database == "analytics"
    target = InfraMap(tables={"vt": spec})

    # migrate from empty state: the create must land at OlapTable.path
    ops, disc = plan_against_reality(spark, wh, InfraMap(), target)
    assert [o.kind for o in ops] == ["create_table"]
    execute_ops(wh, ops, current=InfraMap(), target=target)
    assert os.path.isdir(tbl.path)
    assert table_dir(wh, spec) == tbl.path
    import os as _os

    assert not _os.path.isdir(_os.path.join(wh, "default", "vt"))

    # data written through the table is observed at the right directory:
    # saved==target and reality in sync -> no drift, empty plan (the saved
    # spec pins the STORAGE schema, as the CLI's save_state does)
    tbl.insert([{"id": 1}])
    storage = TableSpec(
        name="vt",
        columns=[
            ColumnSpec(f.name, f.dataType.simpleString(), f.nullable)
            for f in tbl.read_raw().schema.fields
        ],
        version="1.0",
        database="analytics",
    )
    saved = InfraMap(tables={"vt": storage})
    disc = check_reality(spark, wh, saved)
    assert disc.is_empty(), (
        disc.missing_tables, disc.unmapped_tables, disc.mismatched_tables,
    )
    ops, disc = plan_against_reality(spark, wh, saved, saved)
    assert ops == [] and disc.is_empty()
    target = saved

    # a version bump moves the physical dir: recreate at the new path,
    # old path removed
    spec2 = TableSpec(
        name="vt", columns=spec.columns, version="2.0", database="analytics"
    )
    target2 = InfraMap(tables={"vt": spec2})
    ops, _ = plan_against_reality(spark, wh, target, target2)
    assert [o.kind for o in ops] == ["recreate_table"]
    execute_ops(wh, ops, current=target, target=target2)
    assert _os.path.isdir(_os.path.join(wh, "analytics", "vt_2_0"))
    assert not _os.path.isdir(_os.path.join(wh, "analytics", "vt_1_0"))

    # drop removes the versioned dir
    ops, _ = plan_against_reality(spark, wh, target2, InfraMap())
    assert [o.kind for o in ops] == ["drop_table"]
    execute_ops(wh, ops, current=target2, target=InfraMap())
    assert not _os.path.isdir(_os.path.join(wh, "analytics", "vt_2_0"))


def test_drop_unregisters_and_ephemeral_opt_out(spark, tmp_path):
    """ADVICE r4: dropped/ephemeral tables must not linger in the global
    resources registry — infra_map_from_registry() would plan them as real
    tables for library callers."""
    from pydantic import BaseModel

    from moosestack_spark.catalog import resources
    from moosestack_spark.catalog.table import OlapTable

    class M(BaseModel):
        id: int

    wh = str(tmp_path)
    t1 = OlapTable("reg_t", M, spark, wh)
    assert "reg_t" in resources.registered_tables()
    t1.drop()
    assert "reg_t" not in resources.registered_tables()

    # ephemeral opt-out never registers
    t2 = OlapTable("eph_t", M, spark, wh, register=False)
    assert "eph_t" not in resources.registered_tables()
    t2.drop()

    # last-wins: an older instance's drop must not evict a newer
    # registration under the same name
    a = OlapTable("dup_t", M, spark, wh)
    b = OlapTable("dup_t", M, spark, wh)
    a.drop()
    assert resources.registered_tables().get("dup_t") is b
    b.drop()
    assert "dup_t" not in resources.registered_tables()
