"""Checkpoint-resume semantics: the exactly-once claim the streaming ops
rely on.  An availableNow run with a checkpoint must (a) not reprocess
already-committed files on restart, (b) pick up files added between runs
exactly once, and (c) resume a watermarked aggregation's state across
restarts rather than recomputing windows from scratch."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from moosestack_spark.tables import normalize_event_ts


def _run_passthrough(spark, src_dir, out_dir, ckpt, schema):
    q = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .select("event_id", "event_type")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_exactly_once_across_restarts(spark, sf_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(events).schema
    n_total = spark.read.parquet(events).count()

    src = tempfile.mkdtemp(prefix="msk_resume_src_")
    out = tempfile.mkdtemp(prefix="msk_resume_out_")
    ckpt = tempfile.mkdtemp(prefix="msk_resume_ckpt_")
    try:
        os.symlink(os.path.abspath(events), os.path.join(src, "a.parquet"))
        _run_passthrough(spark, src, out, ckpt, schema)
        assert spark.read.parquet(out).count() == n_total

        # restart with NO new input: nothing must be reprocessed
        _run_passthrough(spark, src, out, ckpt, schema)
        assert spark.read.parquet(out).count() == n_total

        # add a second file and restart: exactly the delta lands
        os.symlink(os.path.abspath(events), os.path.join(src, "b.parquet"))
        _run_passthrough(spark, src, out, ckpt, schema)
        assert spark.read.parquet(out).count() == 2 * n_total
        # per-key multiplicity is exactly 2 (once per file), never 3
        mult = (
            spark.read.parquet(out)
            .groupBy("event_id")
            .count()
            .agg(F.min("count").alias("lo"), F.max("count").alias("hi"))
            .collect()[0]
        )
        assert (mult.lo, mult.hi) == (2, 2)
    finally:
        for d in (src, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_windowed_agg_state_resumes(spark, sf_dir):
    """A watermarked tumbling-window aggregation writes each closed window
    once; feeding the same data again in a SECOND run against the same
    checkpoint must emit no duplicate window rows (dedup by state, not by
    luck)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(events).schema

    src = tempfile.mkdtemp(prefix="msk_wagg_resume_src_")
    out = tempfile.mkdtemp(prefix="msk_wagg_resume_out_")
    ckpt = tempfile.mkdtemp(prefix="msk_wagg_resume_ckpt_")

    def run():
        stream = (
            normalize_event_ts(spark.readStream.schema(schema).parquet(src))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("ws"), "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        os.symlink(os.path.abspath(events), os.path.join(src, "a.parquet"))
        run()
        first = spark.read.parquet(out).count()
        assert first > 0
        run()  # restart, no new data: no window may be re-emitted
        again = spark.read.parquet(out)
        assert again.count() == first
        assert again.groupBy("ws").count().filter("count > 1").count() == 0
    finally:
        for d in (src, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_capped_backlog_kill_and_resume(spark, tmp_path):
    """maxOffsetsPerTrigger analogue on the file source: a 6-file backlog
    consumed under a maxFilesPerTrigger=2 cap must take >=3 committed
    micro-batches, survive a kill after the first committed batch, and land
    every row exactly once after resume.  Pins the reference's at-least-once
    batch-ceiling semantics (kafka_clickhouse_sync.rs:55-57) in the actual
    streaming path, not just the brokerless sync-loop unit."""
    import time

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    n_files, rows_per = 6, 50
    for i in range(n_files):
        spark.range(i * rows_per, (i + 1) * rows_per).toDF("v").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/f{i}.parquet")
    total = n_files * rows_per
    schema = spark.read.parquet(f"{src}/f0.parquet").schema

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src + "/*")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # Run 1: kill as soon as at least one batch has committed.
    q = start()
    deadline = time.time() + 120
    committed = 0
    while time.time() < deadline:
        committed = len(os.listdir(os.path.join(ckpt, "commits"))) if os.path.isdir(
            os.path.join(ckpt, "commits")
        ) else 0
        if committed >= 1:
            break
        time.sleep(0.05)
    q.stop()
    q.awaitTermination()
    assert committed >= 1, "no batch committed before kill"
    mid = spark.read.parquet(out).count()
    assert mid < total or committed >= 3  # the kill landed mid-backlog (or it raced to done)

    # Run 2: resume from the checkpoint; the remaining backlog lands exactly once.
    q2 = start()
    q2.awaitTermination()
    result = spark.read.parquet(out)
    assert result.count() == total
    assert result.select("v").distinct().count() == total  # no dup, no loss
    # the cap forced a multi-batch consumption: 6 files / 2 per trigger -> >=3 commits
    commits = [
        f
        for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    ]
    assert len(commits) >= 3, f"expected >=3 committed batches, got {commits}"


def test_scd2_kill_and_resume(spark, sf_dir, tmp_path):
    """SCD2 streaming merge under kill-and-resume: a 4-file backlog under
    maxFilesPerTrigger=1 is killed after the first committed batch and
    resumed against the same checkpoint; the final history table must equal
    the one-shot batch build exactly.  Two properties carry it: the merge
    recomputes each affected key from its FULL history (batch-order
    independence) and dedupes on (key, order cols) so a replayed
    micro-batch is a no-op (idempotence)."""
    import time

    from moosestack_spark.operators.streaming_ext import scd2_merge_batch
    from moosestack_spark.streaming.runner import _stream_state_partitions
    from pyspark.sql import Window

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet")).select(
        "user_id",
        "ts",
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    src = str(tmp_path / "src")
    table_dir = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    # 4 modulo slices: the merge is batch-order independent, so any slicing
    # works; modulo maximizes cross-batch key overlap (the hard case)
    for i in range(4):
        tmp = f"{src}/_tmp{i}"
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(os.path.join(tmp, part), f"{src}/batch{i}.parquet")
        shutil.rmtree(tmp)

    def start():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            stream.writeStream.foreachBatch(
                scd2_merge_batch(table_dir, "user_id", ["ts", "event_id"])
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    scope = _stream_state_partitions(spark)
    scope.__enter__()
    try:
        # Run 1: kill as soon as at least one batch has committed.
        q = start()
        deadline = time.time() + 120
        committed = 0
        commits_dir = os.path.join(ckpt, "commits")
        while time.time() < deadline:
            committed = (
                len(os.listdir(commits_dir)) if os.path.isdir(commits_dir) else 0
            )
            if committed >= 1:
                break
            time.sleep(0.05)
        q.stop()
        q.awaitTermination()
        assert committed >= 1, "no batch committed before kill"

        # Run 2: resume; the remaining backlog merges exactly once.
        q2 = start()
        q2.awaitTermination()
        commits = [f for f in os.listdir(commits_dir) if not f.startswith(".")]
        assert len(commits) >= 3, f"expected >=3 committed batches, got {commits}"

        got = spark.read.parquet(os.path.join(table_dir, "current"))
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        want = ev.select(
            "user_id",
            "ts",
            "event_id",
            "cents",
            F.lead("ts").over(w).alias("valid_to"),
            F.lead("ts").over(w).isNull().alias("is_current"),
        )
        cols = ["user_id", "ts", "event_id", "cents", "valid_to", "is_current"]
        assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
            map(tuple, want.select(*cols).collect())
        )
    finally:
        scope.__exit__()
