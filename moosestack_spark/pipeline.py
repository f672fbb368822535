"""IngestPipeline: table + stream + ingest entry + DLQ in one object
(SURVEY.md §1.1).

Port target: py-moose-lib/moose_lib/dmv2/ingest_pipeline.py:71,151-219 —
IngestPipeline[T] wires an IngestApi -> Stream -> OlapTable with an optional
DeadLetterQueue, driven by IngestPipelineConfig {ingest_api, stream, table,
dead_letter_queue}.

Spark mapping (write path §3.2): ingest() validates rows (the HTTP
endpoint's DataModelVisitor job) -> valid rows append to the table (the
Kafka->ClickHouse sync job collapses into a direct append; with a real
Kafka source the stream half runs via streaming.runner) -> invalid rows
land in the DLQ table with the DeadLetterModel envelope.  Both appends are
driver-side pyarrow part files (unless the table needs a Spark writer
feature, OlapTable._arrow_appendable), so a request body runs no Spark job.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Generic, Optional, Sequence, TypeVar

from pydantic import BaseModel, ValidationError
from pyspark.sql import DataFrame, SparkSession

from moosestack_spark.catalog.engines import OlapConfig
from moosestack_spark.catalog.table import OlapTable, _write_arrow_part
from moosestack_spark.streaming.dlq import DLQ_SCHEMA
from moosestack_spark.streaming.stream import Stream

T = TypeVar("T", bound=BaseModel)


@dataclass
class IngestPipelineConfig:
    """ingest_pipeline.py:71: which pieces to materialize."""

    ingest_api: bool = True
    stream: bool = True
    table: bool = True
    dead_letter_queue: bool = True


class IngestPipeline(Generic[T]):
    def __init__(
        self,
        name: str,
        model: type[T],
        spark: SparkSession,
        warehouse: str,
        config: Optional[IngestPipelineConfig] = None,
        table_config: Optional[OlapConfig] = None,
    ):
        self.name = name
        self.model = model
        self.spark = spark
        self.config = config or IngestPipelineConfig()
        self.table: Optional[OlapTable[T]] = (
            OlapTable(name, model, spark, warehouse, table_config)
            if self.config.table
            else None
        )
        self.stream: Optional[Stream] = (
            Stream(name=name, schema=self.table.schema if self.table else None)
            if self.config.stream
            else None
        )
        self.dlq_path = f"{warehouse}/default/{name}__dlq" if self.config.dead_letter_queue else None

    # the POST /ingest/{model} semantics (local_webserver.rs:1509-1748):
    # parse+validate per record; poison -> DLQ; healthy -> stream -> table
    def ingest(self, records: Sequence[dict]) -> dict:
        """Validate each record once — Pydantic, plus the table's range and
        FixedString checks — append the valid ones and dead-letter the rest,
        so one bad record never fails the whole body."""
        if not self.config.ingest_api:
            raise PermissionError(f"pipeline {self.name} has no ingest api")
        validate = (
            self.table._validate_row
            if self.table is not None
            else lambda rec: self.model(**rec).model_dump()
        )
        ok: list[dict] = []
        dead: list[tuple[dict, str]] = []
        for rec in records:
            try:
                ok.append(validate(rec))
            except ValueError as exc:  # Pydantic's ValidationError is one
                msg = (
                    exc.errors()[0].get("msg", str(exc))
                    if isinstance(exc, ValidationError)
                    else str(exc)
                )
                dead.append((rec, msg))
        if ok and self.table is not None:
            self.table._append_rows(ok)
        # source "api": an ingest-side failure (stream.py:425)
        self._append_dlq(dead, "ValidationError", "api")
        return {"inserted": len(ok), "dead_lettered": len(dead)}

    def dead_letter(
        self,
        records: Sequence[dict],
        error_message: str,
        error_type: str = "ParseError",
        source: str = "api",
    ) -> int:
        """Route raw records straight to the DLQ (the whole-body-parse-failure
        salvage path of local_webserver.rs handle_json_array_body: records
        recovered from an unparseable body are never silently dropped)."""
        return self._append_dlq(
            [(rec, error_message) for rec in records], error_type, source
        )

    def _append_dlq(
        self, failures: list[tuple[dict, str]], error_type: str, source: str
    ) -> int:
        """Append (record, error message) pairs to the DLQ in the
        DeadLetterModel envelope; returns how many were written."""
        if not self.dlq_path or not failures:
            return 0
        now = datetime.now(timezone.utc)
        dead = [
            {
                "original_record": json.dumps(rec, default=str),
                "error_message": msg,
                "error_type": error_type,
                "failed_at": now,
                "source": source,
            }
            for rec, msg in failures
        ]
        # a pyarrow part file, like a table's row append; the DLQ has no
        # snapshots, so the rename alone publishes it
        _write_arrow_part(self.dlq_path, dead, DLQ_SCHEMA, None, ())
        return len(dead)

    def read_dlq(self) -> DataFrame:
        if not self.dlq_path:
            raise PermissionError(f"pipeline {self.name} has no DLQ")
        try:
            return self.spark.read.schema(DLQ_SCHEMA).parquet(self.dlq_path)
        except Exception:
            return self.spark.createDataFrame([], DLQ_SCHEMA)


# --------------------------------------------------------------------------
# ETLPipeline (ts dmv2/sdk/etlPipeline.ts:24-77): batched extract ->
# transform -> load.
# --------------------------------------------------------------------------

ETL_BATCH_SIZE = 20  # etlPipeline.ts DEFAULT_BATCH_SIZE


class ETLPipeline:
    """extract (iterable/iterator of records, consumed in batches of 20) ->
    transform (record -> record | list[record] | None, the same ZeroOrMany
    contract as stream transforms) -> load (an OlapTable or a callable).

    The reference runs this client-side inside a workflow task; it is the
    small-data/control-plane path.  Bulk ETL at 100 TB goes through the
    DataFrame/streaming operators instead — this object exists for parity
    with the reference's surface (and for seeding/config flows where a
    driver-side iterator is the honest shape).
    """

    def __init__(self, extract, transform, load, batch_size: int = ETL_BATCH_SIZE):
        self.extract = extract
        self.transform = transform
        self.load = load
        self.batch_size = batch_size

    def run(self) -> dict:
        it = iter(self.extract() if callable(self.extract) else self.extract)
        n_in = n_out = n_batches = 0
        batch: list = []

        def flush(rows: list) -> None:
            nonlocal n_out, n_batches
            if not rows:
                return
            out: list = []
            for r in rows:
                res = self.transform(r)
                if res is None:
                    continue
                out.extend(res if isinstance(res, list) else [res])
            if out:
                if isinstance(self.load, OlapTable):
                    self.load.insert(out)
                else:
                    self.load(out)
                n_out += len(out)
            n_batches += 1

        for rec in it:
            n_in += 1
            batch.append(rec)
            if len(batch) >= self.batch_size:
                flush(batch)
                batch = []
        flush(batch)
        return {"extracted": n_in, "loaded": n_out, "batches": n_batches}
