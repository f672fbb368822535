"""Bucketed co-located joins: results match the plain join, and the plan
has NO exchange when both sides share key + bucket count."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from moosestack_spark.operators.bucketed import (
    ensure_bucket_db,
    write_bucketed,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_pair(spark):
    from moosestack_spark.tables import t

    db = ensure_bucket_db(spark, "bucket_test")
    write_bucketed(t(spark, SF, "orders"), f"{db}.o8", "o_custkey", 8)
    write_bucketed(t(spark, SF, "customer"), f"{db}.c8", "c_custkey", 8)
    write_bucketed(t(spark, SF, "customer"), f"{db}.c4", "c_custkey", 4)
    yield db
    for tbl in ("o8", "c8", "c4"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_same_bucket_join_has_no_exchange(spark, bucketed_pair):
    db = bucketed_pair
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o, c = spark.table(f"{db}.o8"), spark.table(f"{db}.c8")
        j = o.join(c, o.o_custkey == c.c_custkey).groupBy("c_nationkey").count()
        j.collect()
        plan = _plan(j)
        # the join itself reads bucketed scans: the ONLY exchange allowed is
        # the final groupBy's — no exchange on either join key may exist
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(o_custkey" not in plan
        assert "Exchange hashpartitioning(c_custkey" not in plan
        # mismatched bucket counts DO shuffle the smaller side
        c4 = spark.table(f"{db}.c4")
        j2 = o.join(c4, o.o_custkey == c4.c_custkey).groupBy("c_nationkey").count()
        j2.collect()
        assert "Exchange hashpartitioning(c_custkey" in _plan(j2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_matches_plain_join(spark, bucketed_pair):
    from moosestack_spark.tables import t

    db = bucketed_pair
    o, c = spark.table(f"{db}.o8"), spark.table(f"{db}.c8")
    got = {
        r.c_nationkey: r.n
        for r in o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    po, pc = t(spark, SF, "orders"), t(spark, SF, "customer")
    want = {
        r.c_nationkey: r.n
        for r in po.join(pc, po.o_custkey == pc.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_bucket_db_location_removed_at_exit(tmp_path):
    """ensure_bucket_db's warehouse holds copies of the bucketed tables, so
    it must go when the process exits instead of piling up in $TMPDIR once
    per session.  Runs in a subprocess so the process really exits."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        """
        import glob, os, tempfile
        from moosestack_spark.operators.bucketed import ensure_bucket_db, write_bucketed
        from moosestack_spark.session import get_spark

        spark = get_spark("bucket-db-exit")
        db = ensure_bucket_db(spark, "bucket_exit")
        write_bucketed(spark.range(100), f"{db}.t", "id", 2)
        (loc,) = glob.glob(os.path.join(tempfile.gettempdir(), "msk_bucket_exit_*"))
        print(sum(len(files) for _, _, files in os.walk(loc)))
        """
    )
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        PYTHONPATH=repo,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert int(proc.stdout.split()[-1]) > 0  # the tables were written there
    assert not list(tmp_path.glob("msk_*"))
