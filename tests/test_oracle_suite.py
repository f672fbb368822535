"""Differential gate: every registered query with an oracle must match the
DuckDB oracle exactly at the test SF (mirrors the driver's sf0.01 check —
run with SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for the full gate).
"""

from __future__ import annotations

import pytest

from moosestack_spark import registry
from moosestack_spark.session import materialization_scope
from tests.oracle_harness import compare_query

registry.load_all()

_WITH_ORACLE = sorted(registry.ORACLES)
_ROWS_ONLY = sorted(set(registry.QUERIES) - set(registry.ORACLES))


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_match(spark, sf_dir, name):
    ok, msg = compare_query(
        spark, name, registry.QUERIES[name], registry.ORACLES[name], sf_dir
    )
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    with materialization_scope(spark):
        n = registry.QUERIES[name](spark, sf_dir).count()
    assert n >= 0
