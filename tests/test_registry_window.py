"""The correctness run hash-checks only the FIRST 50 registered queries, so the order
``registry.load_all()`` computes is load-bearing.  These tests pin the rule
(``registry.window_order``) and its inputs (the CORRECTNESS records and the
per-gate fingerprint ledger), not a list of names."""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
import types
from pathlib import Path

from moosestack_spark import registry

registry.load_all()

CHECK_WINDOW = 50


def test_window_order_sort_key():
    names = ["rows_only", "old", "new", "changed_old", "never", "changed", "never2"]
    oracled = set(names) - {"rows_only"}
    green = {"old": 2, "new": 9, "changed_old": 1, "changed": 9}
    changed = {"changed_old", "changed", "never2", "rows_only"}
    assert registry.window_order(names, oracled, green, changed) == [
        "never2",  # never green, changed
        "never",  # never green, registration order after the changed one
        "changed_old",  # changed, oldest green first
        "changed",
        "old",  # unchanged: oldest green first
        "new",
        "rows_only",  # rows-only last, whatever else holds
    ]
    # ties keep registration order
    assert registry.window_order(["b", "a"], {"a", "b"}, {}, set()) == ["b", "a"]


def test_gate_fingerprints_hash_each_defining_module():
    now = registry.gate_fingerprints()
    assert set(now) == set(registry.QUERIES)
    fn = registry.QUERIES["agg_pricing_summary"]
    data = Path(sys.modules[fn.__module__].__file__).read_bytes()
    assert now["agg_pricing_summary"] == hashlib.sha256(data).hexdigest()
    # a module the reader cannot find leaves its gates out
    assert registry.gate_fingerprints(lambda path: None) == {}


def _git(repo, *args):
    subprocess.run(
        ["git", "-c", "user.name=t", "-c", "user.email=t@t", "-C", str(repo), *args],
        check=True, capture_output=True,
    )


def _commit(repo, files, msg):
    for name, text in files.items():
        (repo / name).write_text(text)
    _git(repo, "add", *files)
    _git(repo, "commit", "-m", msg)


def test_ledger_keeps_unchecked_gates_changed(tmp_path, monkeypatch):
    """A record that hash-matches only some gates of a changed module moves
    only those gates to the new code; the rest stay changed until a record
    checks them."""
    _git(tmp_path, "init", "-q")
    gates = {}
    for mod, names in {"mod_a": ["g1", "g2"], "mod_b": ["g3"]}.items():
        module = types.ModuleType(mod)
        module.__file__ = str(tmp_path / f"{mod}.py")
        monkeypatch.setitem(sys.modules, mod, module)
        for name in names:
            gates[name] = lambda spark, sf_dir: None
            gates[name].__module__ = mod
    monkeypatch.setattr(registry, "QUERIES", gates)
    monkeypatch.setattr(registry, "ORACLES", {n: "SELECT 1" for n in gates})
    monkeypatch.setattr(registry, "_REPO", tmp_path)
    monkeypatch.setattr(registry, "LEDGER", tmp_path / "fingerprints.json")

    def record(*green):
        return json.dumps({n: {"hash_match": n in green} for n in gates})

    _commit(tmp_path, {"mod_a.py": "v1", "mod_b.py": "b"}, "code")
    _commit(tmp_path, {"CORRECTNESS_r01.json": record("g1", "g2", "g3")}, "r1")
    _commit(tmp_path, {"mod_a.py": "v2"}, "change mod_a")
    _commit(tmp_path, {"CORRECTNESS_r02.json": record("g1")}, "r2")
    (tmp_path / "mod_a.py").write_text("v3")  # after the newest record

    ledger = registry.write_ledger()
    sha = {v: hashlib.sha256(v.encode()).hexdigest() for v in ("v1", "v2", "b")}
    assert ledger == {"round": 2, "gates": {"g1": sha["v2"], "g2": sha["v1"], "g3": sha["b"]}}
    (tmp_path / "mod_a.py").write_text("v2")
    registry.load_all()
    # g2's v2 code was never hash-matched: changed, so it comes first
    assert list(registry.QUERIES) == ["g2", "g3", "g1"]


def test_load_all_is_idempotent():
    before = list(registry.QUERIES)
    registry.load_all()
    assert list(registry.QUERIES) == before


def test_load_all_orders_by_window_key():
    checked = json.loads(registry.LEDGER.read_text())["gates"]
    now = registry.gate_fingerprints()
    assert list(registry.QUERIES) == registry.window_order(
        list(registry.QUERIES),
        set(registry.ORACLES),
        registry.last_green(),
        {n for n in now if checked.get(n) != now[n]},
    )


def test_ledger_round_is_newest_record():
    ledger = json.loads(registry.LEDGER.read_text())
    newest = max(registry.record_rounds())
    assert ledger["round"] == newest, (
        f"{registry.LEDGER.name} holds round {ledger['round']} but the newest "
        f"record is CORRECTNESS_r{newest:02d}.json: rebuild it with "
        "`python -m moosestack_spark.registry`"
    )


def test_every_oracled_query_has_green_row_or_window_slot():
    green = registry.last_green()
    window = list(registry.QUERIES)[:CHECK_WINDOW]
    never_green = [n for n in registry.ORACLES if n not in green]
    assert [n for n in never_green if n not in window] == []


def test_every_query_callable_and_every_oracle_has_query():
    assert set(registry.ORACLES) <= set(registry.QUERIES)
    for name, fn in registry.QUERIES.items():
        assert callable(fn), name
