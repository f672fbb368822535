"""Structured-Streaming runner: replays a stream source through a Stream's
transform edges into destination tables (SURVEY.md §3.2 write path).

Reference pipeline: topic -> function process (runner.ts eachBatch<=1000) ->
destination topic -> kafka_clickhouse_sync (batch <=100k rows / <=1s flush,
offsets committed after insert => at-least-once).

Spark mapping: readStream -> foreachBatch(stream.process_batch) -> parquet
appends per destination + DLQ.  Checkpointing makes delivery exactly-once to
the idempotent sink — a strict superset of the reference's guarantee.  The
reference's batching constants (100k rows / 1s flush) correspond to micro-
batch trigger sizing here (maxFilesPerTrigger / maxOffsetsPerTrigger).

Every streaming gate runs as a bounded ``Trigger.AvailableNow`` replay
inside one ``available_now`` scope, which owns the temp dirs, the sinks and
the cleanup.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from typing import Callable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from moosestack_spark.streaming.stream import Stream
from moosestack_spark.tables import checked_schema

# One state store per shuffle partition: the bounded gate replays hold a few
# thousand windows/sessions, where 32 stores are pure per-batch overhead
# (measured 4.6s -> 1.9s at 8 for the windowed agg).  At 100 TB you size this
# UP to the state volume instead.
STATE_PARTITIONS = 8


class _stream_state_partitions:
    """Scoped ``spark.sql.shuffle.partitions = STATE_PARTITIONS`` for
    stateful streaming queries.  Set at query START: the checkpoint pins it
    afterwards."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


class Replay:
    """One bounded replay's resources, all under one temp ``root``: source
    links, sinks, checkpoints and scratch tables.  Each sink method starts
    its query with ``Trigger.AvailableNow``, waits for it and returns the
    sink read back; read it into a materialized frame (``localCheckpoint``)
    before the ``available_now`` block ends, which deletes the root."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark, self.root = spark, root
        self.queries: list[StreamingQuery] = []
        self.views: list[str] = []

    def dir(self, name: str) -> str:
        path = os.path.join(self.root, name)
        os.makedirs(path, exist_ok=True)
        return path

    def source(self, path: str, links: int = 1) -> DataFrame:
        """Stream the table file at ``path`` as stored (ts as
        nanos-long) from a dir of ``links`` symlinks to it: FileStreamSource
        needs a directory, and each extra link replays the file again.  The
        schema is the table's declared one (``tables.checked_schema``)."""
        src = self.dir("src")
        name = os.path.basename(path)
        for i in range(links):
            os.symlink(os.path.abspath(path), os.path.join(src, f"{i}_{name}"))
        schema = checked_schema(name.removesuffix(".parquet"), path)
        return self.spark.readStream.schema(schema).parquet(src)

    def _run(self, writer: DataStreamWriter) -> None:
        ckpt = self.dir(f"ckpt{len(self.queries)}")
        q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        self.queries.append(q)
        q.awaitTermination()

    def to_parquet(self, df: DataFrame) -> DataFrame:
        sink = self.dir(f"sink{len(self.queries)}")
        writer = df.writeStream.format("parquet").option("path", sink)
        self._run(writer.outputMode("append"))
        return self.spark.read.parquet(sink)

    def to_memory(self, df: DataFrame, output_mode: str) -> DataFrame:
        # the root's unique name keeps concurrent replays' views apart
        name = f"{os.path.basename(self.root)}_{len(self.queries)}"
        self.views.append(name)
        writer = df.writeStream.format("memory").queryName(name)
        self._run(writer.outputMode(output_mode))
        return self.spark.table(name)

    def for_each_batch(
        self, df: DataFrame, fn: Callable[[DataFrame, int], None]
    ) -> None:
        self._run(df.writeStream.foreachBatch(fn))

    def _close(self) -> None:
        try:
            for q in self.queries:
                if q.isActive:
                    q.stop()
            for name in self.views:
                self.spark.catalog.dropTempView(name)
        finally:
            shutil.rmtree(self.root, ignore_errors=True)


@contextlib.contextmanager
def available_now(spark: SparkSession) -> Iterator[Replay]:
    """Scope for bounded replays: sets the nanos-as-long read conf and the
    STATE_PARTITIONS state scope; on every exit path stops the queries it
    started, drops its memory-sink views, restores the shuffle partitions
    and deletes its root."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    replay = Replay(spark, tempfile.mkdtemp(prefix="msk_replay_"))
    with _stream_state_partitions(spark):
        try:
            yield replay
        finally:
            replay._close()


def commit_table(
    spark: SparkSession,
    table_dir: str,
    batch_id: int,
    merge: Callable[[Optional[DataFrame]], DataFrame],
) -> None:
    """Merge one foreachBatch micro-batch into the table at ``table_dir``.

    ``merge`` gets the current table (None before the first commit) and
    returns the new one, which is written as version ``v{batch_id}``; then
    one atomic ``os.replace`` points the ``current`` symlink at it and older
    versions are deleted.  ``current`` therefore always names a complete
    table: a crash before the swap leaves the previous version current, and
    the replayed batch re-merges against it (foreachBatch is
    at-least-once)."""
    cur = os.path.join(table_dir, "current")
    live = os.readlink(cur) if os.path.islink(cur) else None
    prev = spark.read.parquet(os.path.join(table_dir, live)) if live else None
    # a batch replayed after its swap must not overwrite the version it reads
    name = f"v{batch_id}" if live != f"v{batch_id}" else f"v{batch_id}r"
    merge(prev).write.mode("overwrite").parquet(os.path.join(table_dir, name))
    link = os.path.join(table_dir, "current.next")
    if os.path.lexists(link):
        os.remove(link)
    os.symlink(name, link)
    os.replace(link, cur)
    for old in os.listdir(table_dir):
        if old.startswith("v") and old != name:
            shutil.rmtree(os.path.join(table_dir, old), ignore_errors=True)


def run_file_stream(replay: Replay, source: DataFrame, stream: Stream) -> dict[str, str]:
    """Run ``source`` through the stream's transforms; write each
    destination + its DLQ as parquet under the replay's root.  Returns
    {destination: path}."""
    out_dir = replay.dir("out")
    paths: dict[str, str] = {}
    destinations = list(stream.transforms) + [
        d for d in stream.route_destinations if d not in stream.transforms
    ]
    for dest in destinations:
        paths[dest] = os.path.join(out_dir, dest)
        paths[f"{dest}__dlq"] = os.path.join(out_dir, f"{dest}__dlq")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        results = stream.process_batch(batch_df)
        for dest, res in results.items():
            res.output.write.mode("append").parquet(paths[dest])
            if res.dlq is not None:
                res.dlq.write.mode("append").parquet(paths[f"{dest}__dlq"])

    replay.for_each_batch(source, handle_batch)
    return paths
