"""`python -m moosestack_spark` — the `moose` CLI front-end, library-thin.

Port target: apps/framework-cli commands (commands.rs) reduced to the
single-process Spark engine: the user's app module declares resources via a
`setup(spark, warehouse)` function (constructors self-register, same as the
reference's import-time registration); the CLI reflects the registry into
the planner IR and plans/applies against the warehouse.

Commands:
  plan     --app pkg.mod --warehouse W    show the ordered migration plan
  migrate  --app pkg.mod --warehouse W    apply the plan + save state
  peek     --app pkg.mod --warehouse W --table T [-n 10]
  truncate --app pkg.mod --warehouse W --table T
  seed     --app pkg.mod --warehouse W --table T --from-parquet P
           [--where EXPR] [--limit N]
  openapi  --app pkg.mod --warehouse W    print the consumption-API spec
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys


def _load_app(app: str, warehouse: str):
    from moosestack_spark.catalog import resources
    from moosestack_spark.session import get_spark

    spark = get_spark("moosestack-spark-cli")
    resources.clear_resources()
    mod = importlib.import_module(app)
    if hasattr(mod, "setup"):
        mod.setup(spark, warehouse)
    return spark, resources.registered_tables()


def _plan(spark, warehouse: str):
    from moosestack_spark.catalog.planner import (
        InfraMap,
        load_state,
        order_ops,
        plan_against_reality,
    )
    from moosestack_spark.catalog.resources import infra_map_from_registry

    try:
        saved = load_state(warehouse)
    except Exception:
        saved = InfraMap()
    target = infra_map_from_registry()
    ops, disc = plan_against_reality(spark, warehouse, saved, target)
    current = saved  # discrepancies already folded in by plan_against_reality
    return order_ops(ops, target, current), disc, target, current


def cmd_plan(args) -> int:
    spark, _ = _load_app(args.app, args.warehouse)
    ops, disc, _, _ = _plan(spark, args.warehouse)
    for t in disc.unmapped_tables:
        print(f"~ drift: unmapped table on disk: {t.name}")
    for name in disc.missing_tables:
        print(f"~ drift: table in state but missing on disk: {name}")
    for op in disc.mismatched_tables:
        print(f"~ drift: {op.kind} {op.target} {op.detail}".rstrip())
    if not ops:
        print("no changes")
        return 0
    for op in ops:
        print(f"+ {op.kind} {op.target}" + (f" {op.detail}" if op.detail else ""))
    return 0


def _migrate_once(spark, warehouse: str) -> int:
    from moosestack_spark.catalog.planner import execute_ops, save_state

    ops, _, target, current = _plan(spark, warehouse)
    # versioned / non-default-database specs resolve to OlapTable.path
    applied = execute_ops(warehouse, ops, current=current, target=target)
    save_state(warehouse, target)
    for op in applied:
        print(f"applied {op.kind} {op.target}")
    print(f"{len(applied)} change(s) applied")
    return len(applied)


def cmd_migrate(args) -> int:
    spark, _ = _load_app(args.app, args.warehouse)
    _migrate_once(spark, args.warehouse)
    return 0


def cmd_dev(args) -> int:
    """`moose dev` reduced to the library engine: watch the app module's
    source file and re-plan + apply on every change (poll-based — no
    watcher daemon dependency; the reference's dev loop is the same
    edit->diff->apply cycle, cli/commands.rs dev).  --max-iterations
    bounds the loop for scripts/tests; default runs until interrupted."""
    import time as _time

    from moosestack_spark.catalog import resources

    spark, _ = _load_app(args.app, args.warehouse)
    mod = sys.modules[args.app]
    src = getattr(mod, "__file__", None)
    if src is None:
        print("app module has no source file to watch", file=sys.stderr)
        return 2
    # capture the mtime BEFORE the initial migrate: an edit landing while
    # the first apply runs must still be detected on the first poll
    last = os.path.getmtime(src)
    _migrate_once(spark, args.warehouse)
    print(f"dev: watching {src} (poll {args.poll_interval}s)")
    iters = 0
    while args.max_iterations is None or iters < args.max_iterations:
        _time.sleep(args.poll_interval)
        iters += 1
        try:
            m = os.path.getmtime(src)
        except OSError:
            continue  # transient editor rename
        if m == last:
            continue
        last = m
        print("dev: change detected, re-planning")
        resources.clear_resources()
        importlib.reload(mod)
        if hasattr(mod, "setup"):
            mod.setup(spark, args.warehouse)
        _migrate_once(spark, args.warehouse)
    return 0


def _table(args):
    spark, tables = _load_app(args.app, args.warehouse)
    if args.table not in tables:
        print(f"no table {args.table!r} (have: {sorted(tables)})", file=sys.stderr)
        raise SystemExit(2)
    return spark, tables[args.table]


def cmd_peek(args) -> int:
    _, table = _table(args)
    if args.at_version is not None:
        # snapshot read: the table as of v<N> (catalog/table.py read_at)
        rows = [
            r.asDict(recursive=True)
            for r in table.read_at(args.at_version).limit(args.n).collect()
        ]
    else:
        rows = table.peek(args.n)
    for row in rows:
        print(json.dumps(row, default=str))
    return 0


def cmd_optimize(args) -> int:
    """Compact the table's data files (OPTIMIZE TABLE ... FINAL shape);
    --zorder x,y clusters by the Morton interleave instead of ORDER BY."""
    _, table = _table(args)
    zorder = args.zorder.split(",") if args.zorder else None
    n = table.optimize(args.target_files, zorder_by=zorder)
    print(f"optimized {table.name} into {n} file(s)")
    return 0


def cmd_apply_ttl(args) -> int:
    _, table = _table(args)
    removed = table.apply_ttl()
    col_removed = table.apply_column_ttl()
    print(f"ttl removed {removed} row(s) from {table.name}")
    for col, n in sorted(col_removed.items()):
        print(f"ttl cleared {n} value(s) in {table.name}.{col}")
    return 0


def cmd_restore(args) -> int:
    _, table = _table(args)
    removed = table.restore(args.version)
    print(
        f"restored {table.name} to snapshot v{args.version} "
        f"({removed} file(s) removed from the live set, none deleted)"
    )
    return 0


def cmd_metrics(args) -> int:
    """Table health at a glance (the reference's metrics-console shape):
    rows, then the head snapshot's files and bytes and the number of
    versions in the log, then the one-pass per-column profile."""
    _, table = _table(args)
    head = table._log.head()
    files = head.files.values() if head else ()
    print(
        json.dumps(
            {
                "table": table.name,
                "rows": table.read_raw().count(),
                "files": len(files),
                "bytes": sum(a["size"] for a in files),
                "snapshots": len(table._log.versions()),
            }
        )
    )
    from moosestack_spark.ops.profile import profile_columns

    for row in profile_columns(table.read_raw()).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_vacuum(args) -> int:
    _, table = _table(args)
    versions, files = table.vacuum(args.keep_last)
    print(
        f"vacuumed {table.name}: {versions} version(s) expired, "
        f"{files} unreferenced file(s) deleted"
    )
    return 0


def cmd_snapshots(args) -> int:
    _, table = _table(args)
    for snap in table.snapshots():
        print(json.dumps(snap, default=str))
    return 0


def cmd_changed_files(args) -> int:
    """Incremental-consumption feed: files ADDED between two snapshots —
    a downstream job reads only these, never re-scans history."""
    _, table = _table(args)
    for f in table.changed_files(args.from_version, args.to_version):
        print(f)
    return 0


def cmd_lake(args) -> int:
    """Maintenance for native lake-format tables at a PATH (outside the
    app's managed warehouse): compact / expire / vacuum / snapshots."""
    from moosestack_spark.session import get_spark

    spark = get_spark("moose-lake")
    spark.sparkContext.setLogLevel("ERROR")
    if args.format == "iceberg":
        from moosestack_spark.catalog.iceberg_native import IcebergNativeTable

        table = IcebergNativeTable(spark, args.path)
        if args.action == "compact":
            table.compact(target_partitions=args.target_partitions)
            print(f"compacted {args.path}")
        elif args.action == "expire":
            dropped, deleted = table.expire_snapshots(args.keep_last)
            print(f"expired {dropped} snapshot(s), removed {deleted} file(s)")
        elif args.action == "snapshots":
            for s in table.snapshots():
                print(json.dumps(
                    {k: s[k] for k in ("snapshot-id", "sequence-number",
                                       "summary") if k in s}))
        else:
            print("iceberg supports: compact, expire, snapshots",
                  file=sys.stderr)
            return 2
    else:
        from moosestack_spark.catalog.delta_native import DeltaNativeTable

        table = DeltaNativeTable(spark, args.path)
        if args.action == "compact":
            v = table.compact(target_partitions=args.target_partitions)
            print(f"compacted {args.path} at version {v}")
        elif args.action == "vacuum":
            n = table.vacuum(args.keep_last)
            print(f"vacuumed {args.path}: {n} file(s) removed")
        elif args.action == "snapshots":
            for v in table.versions():
                print(v)
        else:
            print("delta supports: compact, vacuum, snapshots",
                  file=sys.stderr)
            return 2
    return 0


def cmd_truncate(args) -> int:
    _, table = _table(args)
    table.truncate()
    print(f"truncated {table.name}")
    return 0


def cmd_seed(args) -> int:
    spark, table = _table(args)
    src = spark.read.parquet(args.from_parquet)
    if args.where:
        src = src.filter(args.where)
    if args.limit is not None:
        src = src.limit(args.limit)
    n = table.seed_from(src)
    print(f"seeded {n} row(s) into {table.name}")
    return 0


def cmd_openapi(args) -> int:
    from moosestack_spark.api import openapi_spec

    _load_app(args.app, args.warehouse)
    print(json.dumps(openapi_spec(), indent=2))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="moosestack_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--app", required=True, help="python module with setup(spark, warehouse)")
        sp.add_argument("--warehouse", required=True)

    sp = sub.add_parser("plan", help="show the ordered migration plan")
    common(sp)
    sp.set_defaults(fn=cmd_plan)

    sp = sub.add_parser("migrate", help="apply the plan and save state")
    common(sp)
    sp.set_defaults(fn=cmd_migrate)

    sp = sub.add_parser(
        "dev", help="watch the app module; re-plan + apply on change"
    )
    common(sp)
    sp.add_argument("--poll-interval", type=float, default=1.0)
    sp.add_argument("--max-iterations", type=int, default=None)
    sp.set_defaults(fn=cmd_dev)

    sp = sub.add_parser("peek", help="sample N rows from a table")
    common(sp)
    sp.add_argument("--table", required=True)
    sp.add_argument("-n", type=int, default=10)
    sp.add_argument(
        "--at-version", type=int, default=None,
        help="read the table as of snapshot version N (time travel)",
    )
    sp.set_defaults(fn=cmd_peek)

    sp = sub.add_parser("optimize", help="compact a table's data files")
    common(sp)
    sp.add_argument("--table", required=True)
    sp.add_argument("--target-files", type=int, default=None)
    sp.add_argument(
        "--zorder", default=None, metavar="X,Y",
        help="cluster by the Morton interleave of two integer columns",
    )
    sp.set_defaults(fn=cmd_optimize)

    sp = sub.add_parser("ttl", help="apply row and column TTLs now")
    common(sp)
    sp.add_argument("--table", required=True)
    sp.set_defaults(fn=cmd_apply_ttl)

    sp = sub.add_parser("restore", help="roll a table back to a snapshot")
    common(sp)
    sp.add_argument("--table", required=True)
    sp.add_argument("version", type=int)
    sp.set_defaults(fn=cmd_restore)

    sp = sub.add_parser(
        "metrics", help="table rows/files/bytes + per-column profile"
    )
    common(sp)
    sp.add_argument("--table", required=True)
    sp.set_defaults(fn=cmd_metrics)

    sp = sub.add_parser(
        "vacuum", help="expire old snapshots and remove orphan files"
    )
    common(sp)
    sp.add_argument("--table", required=True)
    sp.add_argument("--keep-last", type=int, default=10)
    sp.set_defaults(fn=cmd_vacuum)

    sp = sub.add_parser("snapshots", help="list a table's snapshot history")
    common(sp)
    sp.add_argument("--table", required=True)
    sp.set_defaults(fn=cmd_snapshots)

    sp = sub.add_parser(
        "changed-files",
        help="files added between two snapshots (incremental feed)",
    )
    common(sp)
    sp.add_argument("--table", required=True)
    sp.add_argument("from_version", type=int)
    sp.add_argument("to_version", type=int)
    sp.set_defaults(fn=cmd_changed_files)

    sp = sub.add_parser("truncate", help="remove all rows from a table")
    common(sp)
    sp.add_argument("--table", required=True)
    sp.set_defaults(fn=cmd_truncate)

    sp = sub.add_parser("seed", help="copy rows from a parquet source")
    common(sp)
    sp.add_argument("--table", required=True)
    sp.add_argument("--from-parquet", required=True)
    sp.add_argument("--where", default=None)
    sp.add_argument("--limit", type=int, default=None)
    sp.set_defaults(fn=cmd_seed)

    sp = sub.add_parser("openapi", help="print the consumption-API OpenAPI spec")
    common(sp)
    sp.set_defaults(fn=cmd_openapi)

    sp = sub.add_parser(
        "lake", help="maintain a native Iceberg/Delta table at a path"
    )
    sp.add_argument("action",
                    choices=["compact", "expire", "vacuum", "snapshots"])
    sp.add_argument("--format", required=True, choices=["iceberg", "delta"])
    sp.add_argument("--path", required=True)
    sp.add_argument("--keep-last", type=int, default=1, dest="keep_last")
    sp.add_argument("--target-partitions", type=int, default=None,
                    dest="target_partitions")
    sp.set_defaults(fn=cmd_lake)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
