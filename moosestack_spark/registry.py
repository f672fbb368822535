"""Query/oracle registry backing __spark_entry__.py.

Each operator module registers its correctness-gate queries with::

    @query("q_name", oracle="SELECT ... ")
    def q_name(spark, sf_dir) -> DataFrame: ...

``oracle`` is the DuckDB-ANSI-SQL equivalent run side-by-side by the driver
(tables pre-registered as views).  Omit it only for genuinely
non-SQL-expressible ops (the driver then records a weaker rows-only check).

Column-name discipline: the driver sorts columns by name before hashing, so
every computed column is aliased identically in the Spark code and the SQL.

Correctness window: the correctness run hash-checks only a prefix of
``QUERIES``, so ``load_all()`` orders it by ``window_order`` from the
``CORRECTNESS_r*.json`` records and the ledger ``plans/fingerprints.json``:
each gate's module fingerprint when a record last hash-matched it.  Never
hand-edit the order; once a record is committed, rebuild the ledger with
``python -m moosestack_spark.registry``.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import os
import pkgutil
import subprocess
import sys
from collections.abc import Callable
from pathlib import Path
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from moosestack_spark.session import REPO_ROOT

QueryFn = Callable[[SparkSession, str], DataFrame]


def canon_arrays(df: DataFrame, *cols: str) -> DataFrame:
    """Serialize array-typed columns to deterministic ``[a,b,c]`` strings.

    Driver-canon contract: oracled gates must emit only scalar columns —
    the driver's canonicalizer sorts rows with pandas ``sort_values``,
    which raises on list cells.  Gates whose semantics are array-valued
    (the CH array/map dialect families, groupArray) serialize the arrays
    on both the Spark and oracle side; elements are cast to string first,
    so int/bigint/bool representations agree between engines.
    """
    from pyspark.sql import functions as F

    out = df
    for c in cols:
        out = out.withColumn(
            c,
            F.concat(
                F.lit("["),
                F.array_join(
                    F.expr(f"transform(`{c}`, v -> cast(v as string))"), ","
                ),
                F.lit("]"),
            ),
        )
    return out

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Gates that run a Spark job while they are built (a streaming replay, an
# ETL write), so they have no static plan to explain or audit.
BUILD_TIME_PREFIXES = ("streaming_", "etl_")

_REPO = Path(REPO_ROOT)
LEDGER = _REPO / "plans" / "fingerprints.json"


def record_rounds() -> dict[int, Path]:
    """{round: path} of the committed correctness records ``CORRECTNESS_r*.json``."""
    return {
        int(p.stem.removeprefix("CORRECTNESS_r")): p
        for p in _REPO.glob("CORRECTNESS_r*.json")
    }


def last_green() -> dict[str, int]:
    """{gate: newest round whose record has a ``hash_match`` row for it}."""
    green: dict[str, int] = {}
    for rnd, path in sorted(record_rounds().items()):
        for name, row in json.loads(path.read_text()).items():
            if isinstance(row, dict) and row.get("hash_match"):
                green[name] = rnd
    return green


def gate_fingerprints(
    read: Callable[[str], Optional[bytes]] = lambda path: (_REPO / path).read_bytes(),
) -> dict[str, str]:
    """{gate: sha256 of the bytes of the module that defines it}.  ``read``
    maps a repo-relative module path to its bytes (None: absent, and the
    gate is left out); the default reads the working tree."""
    shas = {}
    for mod in {fn.__module__ for fn in QUERIES.values()}:
        data = read(os.path.relpath(sys.modules[mod].__file__, _REPO))
        if data is not None:
            shas[mod] = hashlib.sha256(data).hexdigest()
    return {n: shas[fn.__module__] for n, fn in QUERIES.items() if fn.__module__ in shas}


def window_order(
    names: list[str], oracled: set[str], green: dict[str, int], changed: set[str]
) -> list[str]:
    """``names`` in correctness-check order: rows-only last; never-green
    first; then changed; then oldest last-green round; stable otherwise."""
    return sorted(
        names,
        key=lambda n: (n not in oracled, n in green, n not in changed, green.get(n, 0)),
    )


def load_all() -> None:
    """Import every operator module (side effect: registration), then put
    ``QUERIES`` in correctness-check order."""
    from moosestack_spark import operators, ops

    for pkg in (operators, ops):
        for mod in pkgutil.iter_modules(pkg.__path__, pkg.__name__ + "."):
            importlib.import_module(mod.name)
    checked = json.loads(LEDGER.read_text())["gates"] if LEDGER.exists() else {}
    changed = {n for n, sha in gate_fingerprints().items() if checked.get(n) != sha}
    for name in window_order(list(QUERIES), set(ORACLES), last_green(), changed):
        QUERIES[name] = QUERIES.pop(name)


def _git(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(["git", "-C", str(_REPO), *args], capture_output=True)


def write_ledger() -> dict:
    """Rebuild the ledger from the committed records: each gate maps to its
    module's fingerprint in the tree of the commit that added its newest
    ``hash_match`` record (a record is committed on top of the code it checked)."""
    load_all()
    rounds, green, gates = record_rounds(), last_green(), {}
    for rnd, path in sorted(rounds.items()):
        added = _git("log", "--diff-filter=A", "--format=%H", "-1", "--", path.name)
        if not (commit := added.stdout.decode().strip()):
            raise SystemExit(f"{path.name} is not committed: commit it first")

        def read(p: str) -> Optional[bytes]:
            out = _git("show", f"{commit}:{p}")
            return out.stdout if out.returncode == 0 else None

        at = gate_fingerprints(read)
        gates.update({n: sha for n, sha in at.items() if green.get(n) == rnd})
    ledger = {"round": max(rounds, default=0), "gates": gates}
    LEDGER.write_text(json.dumps(ledger, indent=1, sort_keys=True) + "\n")
    return ledger


if __name__ == "__main__":
    # the gates register into the package module, not into this __main__
    from moosestack_spark import registry

    print(f"wrote {registry.LEDGER} (round {registry.write_ledger()['round']})")
