"""Topic-to-topic sync: the version-migration bridge.

Reference semantics (topic_sync_process.rs:103-138 TopicToTopicSyncProcess;
kafka_clickhouse_sync.rs:441-`sync_kafka_to_kafka`): when a stream gets a new
version, the framework runs a continuous forwarder from the old-version
topic to the new-version topic so producers still writing the old version
keep flowing into the new pipeline.  The reference forwards payloads
verbatim (the schema delta is absorbed by the destination's tolerant
decode); here the bridge makes the version mapping EXPLICIT and typed:
missing target columns are filled with declared defaults (or typed NULLs),
dropped columns are projected away, and common columns are cast to the
target type.

Spark mapping: readStream(source) -> conform(target schema) ->
writeStream(target sink) with a checkpoint — exactly-once to the idempotent
sink, a strict superset of the reference's at-least-once forwarding.  At
100 TB/day the bridge is a stateless projection: no shuffle, no state store,
scales with source partitions.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class TopicToTopicSync:
    """Declarative version bridge between two stream versions.

    ``defaults`` supplies values for columns that exist only in the target
    version (the reference requires new-version columns to be nullable or
    defaulted for exactly this reason).

    The ``streaming_topic_sync`` gate runs ``conform`` over a parquet
    stand-in for the source topic into a parquet sink (one
    ``streaming.runner.available_now`` replay); against a live broker, swap
    the reader for ``format("kafka")`` and the writer for a kafka sink."""

    source: str
    target: str
    target_schema: Optional[StructType] = None
    defaults: dict[str, Any] = field(default_factory=dict)

    def conform(self, df: DataFrame) -> DataFrame:
        """Project a source-version batch onto the target version's schema:
        common columns cast to the target type, new columns defaulted,
        removed columns dropped.  Pure stateless projection (JVM-side)."""
        if self.target_schema is None:
            return df
        cols = []
        have = {f.name for f in df.schema.fields}
        for f_ in self.target_schema.fields:
            if f_.name in have:
                cols.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
            elif f_.name in self.defaults:
                cols.append(
                    F.lit(self.defaults[f_.name]).cast(f_.dataType).alias(f_.name)
                )
            else:
                cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
        return df.select(*cols)
