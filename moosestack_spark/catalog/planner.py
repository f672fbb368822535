"""Migration planner: infrastructure-map diff -> ordered DDL operations
(SURVEY.md §2.11, §3.1 — the reference's real "physical plan").

Port targets in /root/reference/apps/framework-cli/src/:
- framework/core/infrastructure_map.rs:539 (InfrastructureMap IR),
  :262-356 (ColumnChange / TableChange enums incl. SettingsChanged)
- framework/core/plan.rs:714-760 (plan_changes: previous-state + reality
  check -> diff)
- olap/diff_strategy.rs:54-76 (ALTER vs DROP+CREATE decision: ORDER BY /
  engine / PK changes force recreate)
- olap/ddl_ordering.rs:36-60 (AtomicOlapOperation toposorted over data
  dependency edges: an MV depends on its source and target tables)

Spark mapping: state is a JSON snapshot of the deployed map (the reference
keeps it in Redis `_MOOSE_STATE`, state_storage.rs:138) plus the reality of
the warehouse directory; operations execute against OlapTable storage
(parquet dirs + schema evolution).  A single process — the reference's
three process boundaries collapse to function calls.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field
from graphlib import TopologicalSorter
from typing import Optional

from moosestack_spark.catalog.table import is_sibling_dir, remove_table_dirs


@dataclass(frozen=True)
class ColumnSpec:
    name: str
    type: str  # spark simpleString
    nullable: bool = False
    # enum-typed columns carry their member mapping so the diff can apply
    # ClickHouse enum-equivalence (diff_strategy.rs enums_are_equivalent):
    # a TS/py string enum and its stored int-mapped form must NOT register
    # as a modify.  members: sequence of (member_name, value) pairs.
    enum_name: Optional[str] = None
    enum_members: Optional[tuple] = None


@dataclass
class TableSpec:
    name: str
    columns: list[ColumnSpec]
    order_by: tuple[str, ...] = ()
    partition_by: Optional[str] = None
    engine: str = "MergeTree"
    settings: dict = field(default_factory=dict)
    version: Optional[str] = None
    # Physical placement: OlapTable.path = warehouse/<database>/<name>_<v>;
    # the planner must create/drop/observe at the SAME directory or a
    # versioned / non-default-database table reports perpetual drift.
    database: Optional[str] = None


def physical_table_name(spec: TableSpec) -> str:
    """Versioned physical directory name, mirroring OlapTable.physical_name
    (olap_table.py:422-440): ``{name}_{1_0}`` when a version is set."""
    if spec.version:
        return f"{spec.name}_{spec.version.replace('.', '_')}"
    return spec.name


def table_dir(warehouse: str, spec: TableSpec, default_database: str = "default") -> str:
    """The spec's physical directory — MUST match OlapTable.path."""
    return os.path.join(
        warehouse, spec.database or default_database, physical_table_name(spec)
    )


@dataclass
class ViewSpec:
    name: str
    select: str
    depends_on: tuple[str, ...] = ()


@dataclass
class MaterializedViewSpec:
    name: str
    select: str
    source_tables: tuple[str, ...]
    target_table: str


@dataclass
class InfraMap:
    """The IR (infrastructure_map.rs:539-598, reduced to the OLAP half)."""

    tables: dict[str, TableSpec] = field(default_factory=dict)
    views: dict[str, ViewSpec] = field(default_factory=dict)
    materialized_views: dict[str, MaterializedViewSpec] = field(default_factory=dict)

    def to_json(self) -> str:
        def enc(o):
            if isinstance(o, (TableSpec, ViewSpec, MaterializedViewSpec, ColumnSpec)):
                return o.__dict__
            if isinstance(o, tuple):
                return list(o)
            raise TypeError(o)

        return json.dumps(self.__dict__, default=enc, indent=2, sort_keys=True)

    @staticmethod
    def from_json(text: str) -> "InfraMap":
        raw = json.loads(text)
        return InfraMap(
            tables={
                k: TableSpec(
                    name=v["name"],
                    columns=[ColumnSpec(**c) for c in v["columns"]],
                    order_by=tuple(v.get("order_by", ())),
                    partition_by=v.get("partition_by"),
                    engine=v.get("engine", "MergeTree"),
                    settings=v.get("settings", {}),
                    version=v.get("version"),
                    database=v.get("database"),
                )
                for k, v in raw.get("tables", {}).items()
            },
            views={
                k: ViewSpec(v["name"], v["select"], tuple(v.get("depends_on", ())))
                for k, v in raw.get("views", {}).items()
            },
            materialized_views={
                k: MaterializedViewSpec(
                    v["name"], v["select"], tuple(v["source_tables"]), v["target_table"]
                )
                for k, v in raw.get("materialized_views", {}).items()
            },
        )


# -- change model (infrastructure_map.rs:262-419) ---------------------------


@dataclass(frozen=True)
class Op:
    kind: str  # create_table | drop_table | add_column | drop_column |
    # modify_column | modify_settings | recreate_table | create_view |
    # drop_view | update_view | create_mv | drop_mv | populate_mv
    target: str
    detail: str = ""
    # add_column position (infrastructure_map.rs ColumnChange::Added
    # position_after): the name of the column this one lands AFTER in the
    # target layout; None = FIRST.
    position_after: Optional[str] = None




def enums_are_equivalent(
    actual_members,
    target_members,
    actual_name: Optional[str] = None,
    target_name: Optional[str] = None,
) -> bool:
    """ClickHouse enum equivalence (diff_strategy.rs enums_are_equivalent).

    A source-language string enum (TEXT = 'text') round-trips through the
    warehouse as an int-mapped enum ('text' = 1); comparing those naively
    registers a spurious modify.  Rules: member comparison is
    order-insensitive; counts must match; a target string value may match
    either an actual string member of the same name (both source-side) or
    an actual member NAMED that string value (the warehouse int mapping);
    two source-side string enums with different type names differ."""
    actual = [tuple(m) for m in actual_members]
    target = [tuple(m) for m in target_members]
    if actual == target and (
        actual_name is None or target_name is None or actual_name == target_name
    ):
        return True
    if len(actual) != len(target):
        return False
    a_has_str = any(isinstance(v, str) for _, v in actual)
    t_has_str = any(isinstance(v, str) for _, v in target)
    if (
        a_has_str
        and t_has_str
        and actual_name is not None
        and target_name is not None
        and actual_name != target_name
    ):
        return False
    a_by_name = {n: v for n, v in actual}
    consumed: set = set()  # bijection: each actual member matches once
    for t_name, t_val in target:
        if isinstance(t_val, str):
            if t_name in a_by_name and isinstance(a_by_name[t_name], str):
                if a_by_name[t_name] != t_val or t_name in consumed:
                    return False
                consumed.add(t_name)
            elif (
                t_val in a_by_name
                and isinstance(a_by_name[t_val], int)
                and t_val not in consumed
            ):
                consumed.add(t_val)  # warehouse form: named by string value
            else:
                return False
        else:
            if a_by_name.get(t_name) != t_val or t_name in consumed:
                return False
            consumed.add(t_name)
    return True


def column_changed(cur: ColumnSpec, tgt: ColumnSpec) -> bool:
    """Modify detection with enum awareness: equivalent enums are never a
    modify even when the storage type string differs."""
    if cur.enum_members is not None and tgt.enum_members is not None:
        if enums_are_equivalent(
            cur.enum_members, tgt.enum_members, cur.enum_name, tgt.enum_name
        ):
            return cur.nullable != tgt.nullable
        return True
    return (cur.type, cur.nullable) != (tgt.type, tgt.nullable)

def diff_tables(cur: Optional[TableSpec], tgt: Optional[TableSpec]) -> list[Op]:
    """ALTER vs DROP+CREATE decision (diff_strategy.rs:54-76)."""
    if cur is None and tgt is None:
        return []
    if cur is None:
        ops = [Op("create_table", tgt.name)]
        return ops
    if tgt is None:
        return [Op("drop_table", cur.name)]

    # ORDER BY / engine / partition change forces recreate (diff_strategy.rs:63);
    # a version or database change moves the physical directory, so it is a
    # recreate too (execute_ops removes the CURRENT spec's dir and creates
    # the TARGET's).
    if (
        tuple(cur.order_by) != tuple(tgt.order_by)
        or cur.engine != tgt.engine
        or cur.partition_by != tgt.partition_by
    ):
        return [Op("recreate_table", tgt.name, "order_by/engine/partitioning changed")]
    if cur.version != tgt.version or cur.database != tgt.database:
        return [Op("recreate_table", tgt.name, "version/database changed")]

    ops: list[Op] = []
    cur_cols = {c.name: c for c in cur.columns}
    tgt_cols = {c.name: c for c in tgt.columns}
    for i, tcol in enumerate(tgt.columns):
        name = tcol.name
        if name not in cur_cols:
            # position captured from the target layout (ColumnChange::Added
            # position_after, infrastructure_map.rs:3722): ADD COLUMN ...
            # AFTER <prev> / FIRST
            ops.append(
                Op(
                    "add_column",
                    tgt.name,
                    name,
                    position_after=None if i == 0 else tgt.columns[i - 1].name,
                )
            )
        elif column_changed(cur_cols[name], tcol):
            ops.append(
                Op("modify_column", tgt.name, f"{name}: {cur_cols[name].type}->{tcol.type}")
            )
    for name in cur_cols:
        if name not in tgt_cols:
            ops.append(Op("drop_column", tgt.name, name))
    if cur.settings != tgt.settings:
        # settings-only ALTER (TableChange::SettingsChanged :323)
        ops.append(Op("modify_settings", tgt.name))
    return ops


def plan_changes(current: InfraMap, target: InfraMap) -> list[Op]:
    """Diff + dependency-ordered op list (plan.rs:714-760 + ddl_ordering.rs).

    Ordering rules: drops of dependents (MVs/views) before their tables;
    creates of tables before dependents; populate_mv after both the MV's
    sources and target exist.
    """
    ops: list[Op] = []
    for name in set(current.tables) | set(target.tables):
        ops.extend(diff_tables(current.tables.get(name), target.tables.get(name)))
    for name in set(current.views) | set(target.views):
        c, t = current.views.get(name), target.views.get(name)
        if c is None:
            ops.append(Op("create_view", name))
        elif t is None:
            ops.append(Op("drop_view", name))
        elif c.select.strip() != t.select.strip():
            # SQL normalized comparison (plan.rs:728-737 formats both sides;
            # we compare whitespace-trimmed text)
            ops.append(Op("update_view", name))
    for name in set(current.materialized_views) | set(target.materialized_views):
        c, t = current.materialized_views.get(name), target.materialized_views.get(name)
        if c is None:
            ops.append(Op("create_mv", name))
            ops.append(Op("populate_mv", name))
        elif t is None:
            ops.append(Op("drop_mv", name))
        elif c.select.strip() != t.select.strip() or c.target_table != t.target_table:
            ops.append(Op("drop_mv", name))
            ops.append(Op("create_mv", name))
            ops.append(Op("populate_mv", name))

    return order_ops(ops, target, current)


_PRIORITY = {
    "drop_mv": 0,
    "drop_view": 1,
    "drop_table": 2,
    "create_table": 3,
    "recreate_table": 3,
    "add_column": 4,
    "modify_column": 4,
    "drop_column": 4,
    "modify_settings": 4,
    "create_view": 5,
    "create_mv": 6,
    "populate_mv": 7,
}


def order_ops(ops: list[Op], target: InfraMap, current: InfraMap) -> list[Op]:
    """Toposort over data-dependency edges (ddl_ordering.rs petgraph sort):
    MV nodes depend on their source/target table nodes; within the same
    dependency rank, drops precede creates (the _PRIORITY lattice)."""
    graph: dict[Op, set[Op]] = {op: set() for op in ops}
    by_target: dict[str, list[Op]] = {}
    for op in ops:
        by_target.setdefault(op.target, []).append(op)

    for op in ops:
        if op.kind in ("create_mv", "populate_mv"):
            mv = target.materialized_views.get(op.target)
            if mv:
                for dep_table in (*mv.source_tables, mv.target_table):
                    for dep_op in by_target.get(dep_table, []):
                        if dep_op.kind in ("create_table", "recreate_table", "add_column"):
                            graph[op].add(dep_op)
        if op.kind == "populate_mv":
            for dep_op in by_target.get(op.target, []):
                if dep_op.kind == "create_mv":
                    graph[op].add(dep_op)
        if op.kind == "drop_table":
            # dependent MV drops first
            for mv_name, mv in current.materialized_views.items():
                if op.target in (*mv.source_tables, mv.target_table):
                    for dep_op in by_target.get(mv_name, []):
                        if dep_op.kind == "drop_mv":
                            graph[op].add(dep_op)

    ts = TopologicalSorter(graph)
    ordered = list(ts.static_order())
    # stable secondary ordering by priority for ops with no edges
    return sorted(ordered, key=lambda o: (_PRIORITY.get(o.kind, 9), ordered.index(o)))


# -- state storage (_MOOSE_STATE, state_storage.rs:65-138) ------------------


def save_state(warehouse: str, m: InfraMap) -> None:
    """Publish ``m`` as the warehouse's ``_state.json`` atomically: write a
    temp file in the same directory, then ``os.replace`` it, so a write that
    fails midway leaves the previous state loadable."""
    os.makedirs(warehouse, exist_ok=True)
    fd, tmp = tempfile.mkstemp(prefix="._state.", suffix=".tmp", dir=warehouse)
    try:
        with os.fdopen(fd, "w") as f:
            f.write(m.to_json())
        os.replace(tmp, os.path.join(warehouse, "_state.json"))
    except BaseException:
        os.unlink(tmp)
        raise


def load_state(warehouse: str) -> InfraMap:
    p = os.path.join(warehouse, "_state.json")
    if not os.path.exists(p):
        return InfraMap()
    with open(p) as f:
        return InfraMap.from_json(f.read())


# -- reality check (infra_reality_checker.rs:57-186) ------------------------


@dataclass
class InfraDiscrepancies:
    """What the warehouse actually contains vs the saved map
    (infra_reality_checker.rs InfraDiscrepancies, reduced to the OLAP
    half this planner models)."""

    unmapped_tables: list = field(default_factory=list)  # [TableSpec] on disk only
    missing_tables: list = field(default_factory=list)  # [str] in state only
    mismatched_tables: list = field(default_factory=list)  # [Op] column drift

    def is_empty(self) -> bool:
        return not (
            self.unmapped_tables or self.missing_tables or self.mismatched_tables
        )


def _observe_table(spark, path: str, name: str) -> Optional[TableSpec]:
    # Partition-dir values must come back as the strings OlapTable wrote,
    # not re-inferred DATE/INT types — inference would report spurious
    # column drift on every partitioned table.
    conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    try:
        schema = spark.read.parquet(path).schema
    except Exception:
        return None
    finally:
        spark.conf.set(conf_key, prev)
    return TableSpec(
        name=name,
        columns=[
            ColumnSpec(f.name, f.dataType.simpleString(), f.nullable)
            for f in schema.fields
        ],
    )


def check_reality(
    spark, warehouse: str, saved: InfraMap, database: str = "default"
) -> InfraDiscrepancies:
    """Compare the saved map against the actual warehouse contents: parquet
    directories + their file schemas (the reference queries ClickHouse
    system tables; here the lake directory IS the system catalog).
    Partition-column type inference is disabled for the observe read so
    partitioned tables don't report spurious type drift."""
    out = InfraDiscrepancies()
    # Physical placement map: each saved spec lives at
    # warehouse/<spec.database or database>/<physical_name> — versioned and
    # non-default-database tables must be observed at the SAME directory
    # OlapTable.path writes, or they report perpetual drift.
    phys_to_logical: dict[tuple[str, str], str] = {
        (spec.database or database, physical_table_name(spec)): name
        for name, spec in saved.tables.items()
    }
    scan_dbs = {db for db, _ in phys_to_logical} | {database}
    seen: set[str] = set()
    for db in sorted(scan_dbs):
        db_dir = os.path.join(warehouse, db)
        if not os.path.isdir(db_dir):
            continue
        for entry in sorted(os.listdir(db_dir)):
            p = os.path.join(db_dir, entry)
            # a table's log, projections and DLQ belong to its lifecycle
            if not os.path.isdir(p) or is_sibling_dir(entry):
                continue
            logical = phys_to_logical.get((db, entry))
            if logical is not None:
                # the directory existing counts as the table existing even
                # when it holds no readable parquet yet (freshly created)
                seen.add(logical)
            observed = _observe_table(spark, p, logical or entry)
            if observed is None:
                continue
            if logical is None:
                # only the scanned default db reports unmapped externals;
                # a spec-declared extra db is scanned solely for its specs
                if db == database:
                    out.unmapped_tables.append(observed)
                continue
            cur = saved.tables[logical]
            drift = diff_tables(cur, _with_observed_columns(cur, observed))
            out.mismatched_tables.extend(drift)
    for name in saved.tables:
        if name not in seen:
            out.missing_tables.append(name)
    return out


def _with_observed_columns(saved_spec: TableSpec, observed: TableSpec) -> TableSpec:
    """The observable reality: parquet schemas expose columns; ORDER BY /
    engine / settings live only in state (as in ClickHouse they live in
    system.tables, which parquet has no counterpart for) — keep the saved
    values so only genuine column drift is reported."""
    return TableSpec(
        name=saved_spec.name,
        columns=observed.columns,
        order_by=saved_spec.order_by,
        partition_by=saved_spec.partition_by,
        engine=saved_spec.engine,
        settings=saved_spec.settings,
        version=saved_spec.version,
        database=saved_spec.database,
    )


def reconcile(saved: InfraMap, disc: InfraDiscrepancies) -> InfraMap:
    """Fold the observed reality into the saved map, producing the TRUE
    current state to diff against (plan.rs:714-760 runs exactly this
    reality-corrected plan).  Externally-dropped tables disappear and
    external tables appear here; externally-mutated columns are re-observed
    by plan_against_reality (the drift ops in ``disc`` are descriptive)."""
    tables = dict(saved.tables)
    for name in disc.missing_tables:
        tables.pop(name, None)
    for spec in disc.unmapped_tables:
        tables[spec.name] = spec
    return InfraMap(
        tables=tables, views=dict(saved.views),
        materialized_views=dict(saved.materialized_views),
    )


def execute_ops(
    warehouse: str,
    ops: list[Op],
    database: str = "default",
    current: Optional[InfraMap] = None,
    target: Optional[InfraMap] = None,
) -> list[Op]:
    """Apply an ordered plan to the file warehouse (execute.rs:87,167
    collapsed to lake semantics): table create/drop/recreate are directory
    operations; column adds/drops/modifies are METADATA-ONLY here because a
    parquet lake evolves schema on read (the mergeSchema +
    COALESCE-to-default read path, gated by source_schema_evolution_defaults)
    — exactly the cheap-ALTER discipline the reference's diff strategy
    prefers; views/MVs materialize at query time so their ops are also
    state-only.  A dropped table's log and projections go with it.
    Returns the ops actually applied."""
    def _dir(m: Optional[InfraMap], name: str) -> Optional[str]:
        spec = m.tables.get(name) if m is not None else None
        return table_dir(warehouse, spec, database) if spec is not None else None

    applied: list[Op] = []
    for op in ops:
        # resolve the op's physical directory from the spec that owns it:
        # creates land at the TARGET spec's dir (versioned/non-default-db
        # aware), drops remove the CURRENT spec's dir — falling back to the
        # logical name under the default db when no map is supplied.
        fallback = os.path.join(warehouse, database, op.target)
        tgt_dir = _dir(target, op.target) or fallback
        cur_dir = _dir(current, op.target) or fallback
        if op.kind == "create_table":
            os.makedirs(tgt_dir, exist_ok=True)
        elif op.kind == "drop_table":
            remove_table_dirs(cur_dir)
        elif op.kind == "recreate_table":
            # a version/database change moves the directory: remove where
            # the table IS, create where it SHOULD BE
            remove_table_dirs(cur_dir)
            remove_table_dirs(tgt_dir)
            os.makedirs(tgt_dir, exist_ok=True)
        # add_column / drop_column / modify_column / modify_settings /
        # view + mv ops: metadata-only (folded into save_state by migrate)
        applied.append(op)
    return applied


def plan_against_reality(
    spark, warehouse: str, saved: InfraMap, target: InfraMap,
    database: str = "default",
) -> tuple[list[Op], InfraDiscrepancies]:
    """The reality-checked plan: observe the warehouse, fold drift into the
    current map, then diff against the target.  Returns (ops, discrepancies)
    so callers can surface drift separately from intent changes."""
    disc = check_reality(spark, warehouse, saved, database)
    current = reconcile(saved, disc)
    # column drift must use OBSERVED columns, not saved ones: re-observe
    # each drifted table ONCE (k drift ops on one table = one schema read)
    for name in {op.target for op in disc.mismatched_tables}:
        if name not in current.tables:
            continue
        path = table_dir(warehouse, current.tables[name], database)
        if os.path.isdir(path):
            observed = _observe_table(spark, path, name)
            if observed is not None:
                current.tables[name] = _with_observed_columns(
                    current.tables[name], observed
                )
    return plan_changes(current, target), disc
