"""The availableNow replay harness (streaming/runner.available_now) and the
crash-safe table swap (streaming/runner.commit_table): a gate leaves no temp
dir, view or query behind, a failing replay still cleans up, and a crash
between writing a table version and swapping it in loses no history."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from moosestack_spark import registry
from moosestack_spark.operators.streaming_ext import scd2_merge_batch, upsert_batch

# the Stream-routed and topic-sync gates, then the memory-sink gates
_LEAK_GATES = [
    "streaming_zero_or_many_transform",
    "streaming_dlq_envelope",
    "streaming_multi_route",
    "streaming_dlq_recovery",
    "streaming_topic_sync",
    "streaming_session_window",
    "streaming_stateful_user_stats",
    "streaming_space_saving_topk",
]


def _msk_entries() -> set[str]:
    return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith("msk_")}


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_replay_gates_leave_no_dirs_views_or_queries(spark, sf_dir):
    registry.load_all()
    dirs, views = _msk_entries(), _temp_views(spark)
    for name in _LEAK_GATES:
        out = registry.QUERIES[name](spark, sf_dir)
        assert out.count() > 0, name  # materialized before the cleanup
        assert _msk_entries() - dirs == set(), name
        assert _temp_views(spark) - views == set(), name
        assert spark.streams.active == [], name


def test_failing_replay_cleans_up(spark, sf_dir):
    from moosestack_spark.streaming.runner import available_now

    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def boom(batch_df, batch_id):
        raise RuntimeError("callback failed")

    with pytest.raises(Exception, match="callback failed"):
        with available_now(spark) as r:
            root = r.root
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
            r.for_each_batch(r.source(f"{sf_dir}/events.parquet"), boom)
    assert not os.path.exists(root)
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


class _SwapCrash(Exception):
    pass


def _crash_on_swap(monkeypatch):
    """Fail the first rename/replace onto ``current``: a crash after the new
    table version is written and before it is swapped in."""
    real = {"rename": os.rename, "replace": os.replace}

    def patched(kind):
        def fn(src, dst, *a, **kw):
            if os.path.basename(str(dst)) == "current":
                monkeypatch.undo()
                raise _SwapCrash(kind)
            return real[kind](src, dst, *a, **kw)

        return fn

    monkeypatch.setattr(os, "rename", patched("rename"))
    monkeypatch.setattr(os, "replace", patched("replace"))


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_upsert_swap_crash_then_replay_keeps_history(spark, tmp_path, monkeypatch):
    table_dir = str(tmp_path)
    apply_batch = upsert_batch(table_dir, ["user_id"], ["ts", "event_id"])
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    b0 = spark.createDataFrame(
        [(1, 10, 1, "view", 1.0), (2, 10, 2, "click", 2.0)], cols
    )
    b1 = spark.createDataFrame([(3, 20, 2, "purchase", 3.0)], cols)
    apply_batch(b0, 0)
    _crash_on_swap(monkeypatch)
    with pytest.raises(_SwapCrash):
        apply_batch(b1, 1)
    apply_batch(b1, 1)  # foreachBatch replays the uncommitted batch
    want = [(1, 10, 1, "view", 1.0), (3, 20, 2, "purchase", 3.0)]
    got = spark.read.parquet(os.path.join(table_dir, "current"))
    assert _rows(got, cols) == want
    apply_batch(b1, 1)  # a replay after the swap re-merges into the same table
    got = spark.read.parquet(os.path.join(table_dir, "current"))
    assert _rows(got, cols) == want


def test_scd2_swap_crash_then_replay_keeps_history(spark, tmp_path, monkeypatch):
    table_dir = str(tmp_path)
    apply_batch = scd2_merge_batch(table_dir, "user_id", ["ts", "event_id"])
    cols = ["user_id", "ts", "event_id", "cents"]
    rows = [(1, 10, 1, 100), (2, 10, 2, 200), (1, 20, 3, 150), (3, 30, 4, 300)]
    b0 = spark.createDataFrame(rows[:2], cols)
    b1 = spark.createDataFrame(rows[2:], cols)
    apply_batch(b0, 0)
    _crash_on_swap(monkeypatch)
    with pytest.raises(_SwapCrash):
        apply_batch(b1, 1)
    apply_batch(b1, 1)
    got = spark.read.parquet(os.path.join(table_dir, "current"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = spark.createDataFrame(rows, cols).select(
        *cols,
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )
    out = [*cols, "valid_to", "is_current"]
    assert _rows(got, out) == _rows(want, out)
