"""OlapTable on Parquet: typed create/insert/read with the reference's
validation strategies and engine read semantics (SURVEY.md §2.1 "Table
insert", §1.4).

Port target: packages/py-moose-lib/moose_lib/dmv2/olap_table.py —
- InsertOptions validation strategies 'fail-fast' | 'discard' | 'isolate'
  with allow_errors / allow_errors_ratio thresholds (:37-53)
- array insert (:876-926), stream/iterator insert batched at 1000 (:927-986)
- isolate = binary-split retry batching (:821-874)
- versioned physical name {name}_{version with _} (:422-440)

Storage model:
- a table is a Parquet directory under the warehouse root plus its commit
  log, the sibling directory {path}__snapshots (catalog/txlog.py, the Delta
  log shape).  The log is the table: read(), read_at() and the base read of
  read_for_predicate() scan exactly the files of a snapshot, so a file that
  no commit added (a crashed or failed write) or that a commit removed (a
  merged, mutated or restored-away part) is never read.  A directory with
  no log (an EXTERNALLY_MANAGED table) is read as the directory.
- appends write new part files and commit their add actions (the MergeTree
  append model: a part is visible once committed).
- row appends (insert of dicts/models, IngestPipeline.ingest) are already
  validated Python objects in the driver, so they are written there as
  pyarrow part files (_write_arrow_part): the declared Spark schema and
  footer, sorted by ORDER BY with nulls first, one file per
  MAX_INSERT_BLOCK rows — the reference's validate-then-batch sync
  (kafka_clickhouse_sync.rs:55-57), never a query-engine job per body.
- DataFrame appends (insert(DataFrame), seed_from, streaming foreachBatch
  sinks) and row appends that need a Spark writer feature (partitionBy,
  projections, bloom-filter indexes, the S3 engine, ORDER BY expressions;
  see _arrow_appendable) are Spark writes: ORDER BY becomes
  sortWithinPartitions (sorted parts -> row-group stat pruning), PARTITION
  BY becomes partitionBy (partition pruning).
- rewrites (optimize, TTL, delete_where/update_where, restore, truncate)
  write new files and commit "remove what I read + add what I wrote": like
  a MergeTree merge swapping parts, a rewrite never touches the files it
  replaces, so every earlier version stays readable until vacuum(), the
  only code that deletes data files.
- engine read semantics (Replacing/Summing/Collapsing dedup-on-read) are
  applied by .read() via catalog.engine_views — deterministic, strictly
  more consistent than ClickHouse's eventual merges.
- at 100 TB the same layout holds: partition columns shard the scan,
  sorted-by-key files give min/max pruning, and appends never rewrite.

Validation runs through Pydantic (the model IS the schema) in the driver;
at cluster scale validation of large streams should go through the
streaming path instead (foreachBatch + poison routing), which shares the
same DLQ envelope.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import shutil
import threading
import time
import uuid
from datetime import datetime, timedelta, timezone
from collections.abc import Callable, Iterable, Iterator, Sequence
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Context, Decimal
from enum import Enum
from typing import Any, Generic, Optional, TypeVar

import pyspark
from pydantic import BaseModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as st
from pyspark.sql.pandas.types import to_arrow_schema

from moosestack_spark.catalog import engine_views
from moosestack_spark.catalog.engines import (
    CollapsingMergeTree,
    Engine,
    IcebergS3,
    Kafka,
    LifeCycle,
    Merge,
    OlapConfig,
    ReplacingMergeTree,
    S3,
    S3Queue,
    SummingMergeTree,
    VersionedCollapsingMergeTree,
)
from moosestack_spark.catalog.txlog import TxLog, partition_values
from moosestack_spark.datamodel.reflection import to_columns, to_struct_type

T = TypeVar("T", bound=BaseModel)

_PATH_LOCKS: dict[str, threading.RLock] = {}
_PATH_LOCKS_GUARD = threading.Lock()


def path_lock(path: str) -> threading.RLock:
    """The in-process lock serializing the writers of one table.  Every
    writer holds it from its first file write through its commit, and
    vacuum() holds it too, so within a process a rewrite never races
    another rewrite and vacuum never deletes a written but not yet
    committed file.  Re-entrant.  Other processes are kept apart by the
    log's put-if-absent commit and its check that removed files are still
    live (catalog/txlog.py), not by this lock."""
    with _PATH_LOCKS_GUARD:
        return _PATH_LOCKS.setdefault(os.path.abspath(path), threading.RLock())


SNAPSHOTS_SUFFIX = "__snapshots"


def is_sibling_dir(name: str) -> bool:
    """Whether a warehouse directory named ``name`` belongs to a table
    rather than being one: its commit log ({t}__snapshots), a projection
    copy ({t}__proj_{p}) or its pipeline's dead-letter queue ({t}__dlq).
    Exact patterns: a user table legitimately named "a__b" is a table."""
    return "__proj_" in name or name.endswith((SNAPSHOTS_SUFFIX, "__dlq"))


def remove_table_dirs(path: str) -> None:
    """Delete the table at ``path``: its data dir, its log and its
    projection copies, so a table created there later has no history."""
    for d in [path, path + SNAPSHOTS_SUFFIX, *glob.glob(glob.escape(path) + "__proj_*")]:
        shutil.rmtree(d, ignore_errors=True)


def _scan_files(spark: SparkSession, root: str, files: Iterable[str],
                schema: Optional[st.StructType] = None) -> DataFrame:
    """Read exactly ``files`` (paths relative to ``root``), with partition
    columns taken from their Hive directories under ``root``."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.option("basePath", root).parquet(
        *(os.path.join(root, f) for f in files)
    )


STREAM_INSERT_BATCH = 1000  # olap_table.py:961
MAX_INSERT_BLOCK = 100_000  # olap_table.py:736-739

# The reference Kafka->table sync batches <= 100k rows per insert and
# flushes at most every 1s (kafka_clickhouse_sync.rs:55-57); Spark's
# equivalent knobs are maxOffsetsPerTrigger + the micro-batch trigger.
KAFKA_MAX_OFFSETS_PER_TRIGGER = 100_000


def kafka_reader_options(eng) -> dict[str, str]:
    """The pinned Kafka reader contract (no broker in this container, so
    the contract IS the test surface — tests/test_kafka_contract.py):

    - startingOffsets=earliest on first start; afterwards the CHECKPOINT
      owns progress, giving offset-commit-after-successful-write — the
      at-least-once discipline of the reference sync (inserter.rs offset
      tracking), upgraded to exactly-once into the table sink;
    - maxOffsetsPerTrigger bounds a micro-batch at the reference's 100k
      insert ceiling;
    - kafka.group.id carries the consumer-group name for broker-side ACLs
      and lag monitoring (Spark itself tracks offsets in the checkpoint).
    """
    return {
        "kafka.bootstrap.servers": eng.broker_list,
        "subscribe": eng.topic_list,
        "kafka.group.id": eng.group_name,
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": str(KAFKA_MAX_OFFSETS_PER_TRIGGER),
    }


def kafka_value_frame(raw: DataFrame, schema) -> DataFrame:
    """JSON wire bytes -> typed records (the sync's
    mapper_json_to_clickhouse_record shape, kafka_clickhouse_sync.rs:722):
    parse the value bytes against the table schema and keep the source
    coordinates (topic, partition, offset) for lineage/DLQ reporting.
    Works identically on the streaming kafka frame and on a batch frame of
    captured wire rows — which is how the contract is tested brokerless."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("r"),
        "topic",
        "partition",
        "offset",
    ).select("r.*", "topic", "partition", "offset")


# Spark's parquet codec names -> pyarrow's (Spark's "lz4" and "lz4_raw" both
# read back as LZ4; pyarrow has no lzo).  No codec means Spark's default.
_ARROW_CODECS = {"none": "none", "uncompressed": "none", "snappy": "snappy",
                 "gzip": "gzip", "brotli": "brotli", "lz4": "lz4",
                 "lz4_raw": "lz4", "zstd": "zstd"}
_DEFAULT_CODEC = "snappy"  # spark.sql.parquet.compression.codec


def _arrow_value(dtype: st.DataType, nullable: bool, name: str) -> Callable[[Any], Any]:
    """The converter of one value of ``dtype`` to what pyarrow takes for
    ``to_arrow_type(dtype)``, doing what createDataFrame does to it:
    timestamps and dates through Spark's own ``toInternal`` (a naive
    datetime is local time, under any TZ), decimals rounded half-up to the
    scale (raising past the precision), non-str values in a string column
    as ``str()`` (bools as "true"/"false"), and a None in a non-nullable
    field raised, as Spark's type verifier does."""
    if isinstance(dtype, st.StructType):
        fields = [(f.name, _arrow_value(f.dataType, f.nullable, f"{name}.{f.name}"))
                  for f in dtype.fields]

        def conv(v):
            if isinstance(v, dict):
                return {n: c(v.get(n)) for n, c in fields}
            return {n: c(x) for (n, c), x in zip(fields, v, strict=True)}
    elif isinstance(dtype, st.ArrayType):
        elem = _arrow_value(dtype.elementType, dtype.containsNull, f"{name}[]")

        def conv(v):
            return [elem(x) for x in v]
    elif isinstance(dtype, st.MapType):
        key = _arrow_value(dtype.keyType, False, f"{name}.key")
        val = _arrow_value(dtype.valueType, dtype.valueContainsNull, f"{name}.value")

        def conv(v):
            return [(key(k), val(x)) for k, x in v.items()]
    elif isinstance(dtype, st.DecimalType):
        quantum = Decimal(1).scaleb(-dtype.scale)
        ctx = Context(prec=dtype.precision, rounding=ROUND_HALF_UP)

        def conv(v):
            return v.quantize(quantum, context=ctx)
    elif isinstance(dtype, st.StringType):
        def conv(v):
            if type(v) is str:
                return v
            return str(v).lower() if isinstance(v, bool) else str(v)
    elif dtype.needConversion():  # timestamp, timestamp_ntz, date
        conv = dtype.toInternal
    else:
        def conv(v):
            return v

    def checked(v):
        if v is None:
            if not nullable:
                raise ValueError(f"field {name}: not nullable, but got None")
            return None
        return conv(v)

    return checked


def _enum_values(v: Any) -> Any:
    """Enum members -> their values, through dicts, lists and tuples: an
    enum column stores its value (the reference's Enum columns), never
    ``str(member)`` ("Baz.QUX")."""
    if isinstance(v, Enum):
        return v.value
    if isinstance(v, dict):
        return {k: _enum_values(x) for k, x in v.items()}
    if type(v) in (list, tuple):
        return type(v)(_enum_values(x) for x in v)
    return v


def _write_arrow_part(
    path: str,
    rows: list[dict],
    spark_schema: st.StructType,
    codec: Optional[str],
    sort_by: Sequence[str],
) -> list[str]:
    """Write validated rows into ``path`` as parquet part files from the
    driver, with no Spark job: the file Spark's writer would make of
    ``createDataFrame(rows, spark_schema)`` sorted within the part by
    ``sort_by`` (nulls first, NaN last) — the same column types (INT96
    timestamps, Spark's default), the same footer keys (so a schema-less
    ``spark.read.parquet`` sees the declared schema and proleptic dates), one
    file per MAX_INSERT_BLOCK rows.  Each file is written under a dot name
    that readers skip and renamed to ``part-<uuid>.parquet`` when complete.
    Returns the names written, for the caller's commit."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    schema = to_arrow_schema(spark_schema).with_metadata({
        "org.apache.spark.version": pyspark.__version__,
        "org.apache.spark.sql.parquet.row.metadata": spark_schema.json(),
    })
    columns = []
    for f in spark_schema.fields:
        conv = _arrow_value(f.dataType, f.nullable, f.name)
        columns.append(pa.array([conv(r.get(f.name)) for r in rows],
                                type=schema.field(f.name).type))
    table = pa.Table.from_arrays(columns, schema=schema)
    if sort_by:
        sort_cols = []
        for k in sort_by:
            col = table.column(k)
            if pa.types.is_floating(col.type):
                # Spark orders NaN above every number; Arrow puts it with nulls
                sort_cols.append(pc.is_nan(col))
            sort_cols.append(col)
        keys = [str(i) for i in range(len(sort_cols))]
        order = pc.sort_indices(
            pa.table(sort_cols, names=keys),
            sort_keys=[(k, "ascending") for k in keys],
            null_placement="at_start",
        )
        table = table.take(order)
    os.makedirs(path, exist_ok=True)
    names = []
    for start in range(0, table.num_rows, MAX_INSERT_BLOCK):
        name = f"part-{uuid.uuid4()}"
        tmp = os.path.join(path, f".{name}.tmp")
        pq.write_table(table.slice(start, MAX_INSERT_BLOCK), tmp,
                       compression=_ARROW_CODECS[codec or _DEFAULT_CODEC],
                       use_deprecated_int96_timestamps=True)
        os.rename(tmp, os.path.join(path, f"{name}.parquet"))
        names.append(f"{name}.parquet")
    return names


@dataclass
class InsertOptions:
    """olap_table.py:37-53."""

    strategy: str = "fail-fast"  # fail-fast | discard | isolate
    allow_errors: Optional[int] = None
    allow_errors_ratio: Optional[float] = None

    def __post_init__(self) -> None:
        if self.strategy not in ("fail-fast", "discard", "isolate"):
            raise ValueError(f"unknown insert strategy {self.strategy!r}")


@dataclass
class InsertResult:
    inserted: int
    failed: int
    errors: list[str] = field(default_factory=list)


class OlapTable(Generic[T]):
    """Typed OLAP table (dmv2/olap_table.py:291)."""

    def __init__(
        self,
        name: str,
        model: type[T],
        spark: SparkSession,
        warehouse: str,
        config: Optional[OlapConfig] = None,
        register: bool = True,
    ):
        self.name = name
        self.model = model
        self.spark = spark
        self.config = config or OlapConfig()
        self.config.validate()
        self.schema = to_struct_type(model)
        self.columns = to_columns(model)
        self._json_columns = [c for c in self.columns if c.annotations.get("ch_type") == "Json"]
        self.warehouse = warehouse
        os.makedirs(self.path, exist_ok=True)
        # lifecycle registry (dmv2/_registry.py): the CLI's plan/migrate
        # reflect registered tables into the planner's target InfraMap.
        # register=False opts ephemeral tables (test fixtures, temp gates)
        # out so they never surface in infra_map_from_registry().
        self._registered = register
        if register:
            from moosestack_spark.catalog import resources

            resources.register_table(self)

    # -- naming ------------------------------------------------------------

    @property
    def physical_name(self) -> str:
        """Versioned name {name}_{1_0} (olap_table.py:422-440)."""
        if self.config.version:
            return f"{self.name}_{self.config.version.replace('.', '_')}"
        return self.name

    @property
    def path(self) -> str:
        db = self.config.database or "default"
        return os.path.join(self.warehouse, db, self.physical_name)

    # -- validation --------------------------------------------------------

    def _split_json_columns(self, row: dict) -> dict:
        """Json columns as stored.  A plain one (``Any``, ``dict[str, Any]``)
        holds the value's ``json.dumps`` text.  A typed-path one
        (ClickHouseJson, data_models.py:597-637): the Pydantic dump of an
        extra='allow' inner model carries typed fields AND extras in one
        dict — split it into the struct shape the schema declares: typed
        paths as native fields, every other path serialized into the
        __dynamic JSON remainder, minus skip_paths / skip_regexps
        (ClickHouse's SKIP / SKIP REGEXP never stores those)."""
        from moosestack_spark.datamodel.types import JSON_DYNAMIC_FIELD

        for col in self._json_columns:
            if isinstance(col.data_type, st.StringType) and row.get(col.name) is not None:
                row = {**row, col.name: json.dumps(row[col.name], default=str)}
                continue
            typed = col.annotations.get("json_typed_paths")
            if typed is None or not isinstance(row.get(col.name), dict):
                continue
            val = row[col.name]
            skips = set(col.annotations.get("json_skip_paths", ()))
            regexps = [
                re.compile(p)
                for p in col.annotations.get("json_skip_regexps", ())
            ]
            out = {k: val.get(k) for k in typed}
            dyn = {
                k: v
                for k, v in val.items()
                if k not in typed
                and k not in skips
                and not any(r.search(k) for r in regexps)
            }
            out[JSON_DYNAMIC_FIELD] = (
                json.dumps(dyn, sort_keys=True, separators=(",", ":"))
                if dyn
                else None
            )
            row = {**row, col.name: out}
        return row

    def _validate_row(self, r: dict | T) -> dict:
        """One row as it is stored: Pydantic validation, then the
        insert-time checks the Spark types can't express.  Raises
        ValueError (Pydantic's ValidationError is one) on a bad row."""
        row = r.model_dump() if isinstance(r, BaseModel) else self.model(**r).model_dump()
        row = self._split_json_columns(_enum_values(row))
        err = self._range_check(row)
        if err is not None:
            raise ValueError(err)
        return row

    def _validate_rows(
        self, rows: Sequence[dict | T], options: InsertOptions
    ) -> tuple[list[dict], list[tuple[dict, str]]]:
        ok: list[dict] = []
        failed: list[tuple[dict, str]] = []
        for r in rows:
            try:
                ok.append(self._validate_row(r))
            except ValueError as exc:
                if options.strategy == "fail-fast":
                    raise
                failed.append((r, str(exc)))
        return ok, failed

    def _range_check(self, row: dict) -> Optional[str]:
        """FixedString length + unsigned range checks (SURVEY §7 part 6)."""
        for col in self.columns:
            v = row.get(col.name)
            if v is None:
                continue
            fixed = col.annotations.get("fixed_length")
            if fixed is not None and len(str(v)) != fixed:
                return f"{col.name}: FixedString({fixed}) got length {len(str(v))}"
            ch_type = col.annotations.get("ch_type", "")
            if ch_type.startswith("UInt") and isinstance(v, int):
                bits = int(ch_type[4:])
                if v < 0 or v >= (1 << bits):
                    return f"{col.name}: {ch_type} out of range: {v}"
            elif ch_type.startswith("Int") and isinstance(v, int):
                bits = int(ch_type[3:])
                lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
                if not (lo <= v <= hi):
                    return f"{col.name}: {ch_type} out of range: {v}"
        return None

    def _check_thresholds(
        self, n_ok: int, failures: list, options: InsertOptions
    ) -> None:
        n_failed = len(failures)
        total = n_ok + n_failed
        if options.allow_errors is not None and n_failed > options.allow_errors:
            raise ValueError(
                f"insert exceeded allow_errors={options.allow_errors}: "
                f"{n_failed} failures; first: {failures[0][1] if failures else ''}"
            )
        if (
            options.allow_errors_ratio is not None
            and total > 0
            and (n_failed / total) > options.allow_errors_ratio
        ):
            raise ValueError(
                f"insert exceeded allow_errors_ratio={options.allow_errors_ratio}: "
                f"{n_failed}/{total}"
            )

    # -- writes ------------------------------------------------------------

    # CH codec -> parquet compression (ClickHouseCodec data_models.py:75-77;
    # parquet has no per-column codecs in the Spark writer, so the first
    # recognized column codec — or a table-level settings["compression"] —
    # selects the file codec; delta/double-delta style encodings are
    # already what parquet's encodings do automatically)
    _CODEC_MAP = {"ZSTD": "zstd", "LZ4": "lz4", "LZ4HC": "lz4", "GZIP": "gzip",
                  "SNAPPY": "snappy", "NONE": "none", "UNCOMPRESSED": "none"}

    def _parquet_compression(self) -> Optional[str]:
        explicit = self.config.settings.get("compression")
        if explicit:
            return self._CODEC_MAP.get(str(explicit).upper(), str(explicit).lower())
        for c in self.columns:
            codec = c.annotations.get("_codec") or c.codec
            if not codec:
                continue
            base = str(codec).split("(")[0].strip().upper()
            if base in self._CODEC_MAP:
                return self._CODEC_MAP[base]
        return None

    def _parquet_index_options(self) -> dict[str, str]:
        """CH skip indexes -> REAL parquet bloom filters (TableIndex
        olap_table.py:167-174).  Any bloom_filter / tokenbf_v1 /
        ngrambf_v1 index enables per-row-group parquet bloom filters on
        the write — the same point-lookup row-group skipping the CH index
        provides (min/max stats cover the `minmax` type natively).

        Engine note: this Spark/parquet build ignores the per-column
        `parquet.bloom.filter.enabled#col` writer option (verified
        empirically — file bytes unchanged), so blooms are enabled
        table-wide with the filter size capped by the max index
        granularity (a superset of the requested skipping; the write-size
        cost is the cap times columns per row group).  Expression indexes
        stay metadata-only, as documented."""
        bloom_granularities = [
            idx.granularity
            for idx in self.config.indexes
            if idx.type in ("bloom_filter", "tokenbf_v1", "ngrambf_v1")
        ]
        if not bloom_granularities:
            return {}
        return {
            "parquet.bloom.filter.enabled": "true",
            "parquet.bloom.filter.max.bytes": str(
                max(65536, max(bloom_granularities) * 65536)
            ),
        }

    def _check_writable(self) -> None:
        if self.config.life_cycle == LifeCycle.EXTERNALLY_MANAGED:
            raise PermissionError(f"{self.name} is EXTERNALLY_MANAGED (read-only)")
        eng = self.config.engine
        if getattr(eng, "read_only", False) or isinstance(eng, S3Queue):
            raise PermissionError(
                f"{self.name}: engine {eng.name} is read-only / consume-only"
            )

    def _arrow_appendable(self) -> bool:
        """Whether a row append can be a driver-side pyarrow part file.  Not
        when it needs Spark's writer: partitionBy dirs, projection copies,
        parquet bloom filters, the S3 engine's external path and format, a
        SQL ORDER BY expression, or a codec pyarrow lacks."""
        cfg = self.config
        return not (
            cfg.partition_by
            or cfg.projections
            or cfg.order_by_expression
            or isinstance(cfg.engine, S3)
            or self._parquet_index_options()
            or (self._parquet_compression() or _DEFAULT_CODEC) not in _ARROW_CODECS
        )

    def _append_df(self, df: DataFrame) -> None:
        self._check_writable()
        eng = self.config.engine
        if isinstance(eng, S3):
            # direct-path engine: rows land at the external location
            # (s3a:// on a cluster; any hadoop-fs path locally) in the
            # engine's format (blocks.py:318-347)
            with path_lock(eng.path):
                df.write.mode("append").format(eng.format).save(eng.path)
            return
        writer = df
        if self.config.order_by_fields:
            # sorted parts: files internally ordered by the sort key ->
            # parquet row-group min/max stats give range-scan pruning.
            writer = df.sortWithinPartitions(*self.config.order_by_fields)
        elif self.config.order_by_expression:
            # expression flavor (olap_table.py:151-155): e.g. "toDate(ts), id"
            exprs = [
                F.expr(e.strip())
                for e in self.config.order_by_expression.split(",")
                if e.strip()
            ]
            writer = df.sortWithinPartitions(*exprs)
        out = writer.write
        codec = self._parquet_compression()
        if codec:
            out = out.option("compression", codec)
        for k, v in self._parquet_index_options().items():
            out = out.option(k, v)
        if self.config.partition_by:
            out = out.partitionBy(self.config.partition_by)
        with path_lock(self.path):
            added = self._stage(out.parquet)
            if self.config.projections:
                self._write_projections(df)
            self._commit("append", added)

    # -- the commit log / time travel ----------------------------------------
    #
    # The log lives in the SIBLING dir {path}__snapshots (outside the data
    # dir, so no data scan sees it); versions count from 1.  read_at(v)
    # plans ONLY v's files, so readers are isolated from concurrent writes,
    # any version reads back (rollback, reproducible training runs) until
    # vacuum(), and the file-list DIFF between two versions is an
    # incremental-consumption feed.

    @property
    def _log(self) -> TxLog:
        return TxLog(self.path + SNAPSHOTS_SUFFIX, first=1)

    def _stage(self, write: Callable[[str], None]) -> list[str]:
        """Run a Spark ``write`` into a fresh hidden staging dir, move its
        part files to their place in the table's layout
        (``[col=value/]part-*.parquet``; Spark's part names carry the write
        job's UUID, so they never collide) and return their paths relative
        to the table dir.  Until a commit adds them nobody reads them."""
        stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex}")
        write(stage)
        added = []
        for root, _dirs, files in os.walk(stage):
            for f in files:
                if f.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(root, f), stage)
                    dest = os.path.join(self.path, rel)
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    os.rename(os.path.join(root, f), dest)
                    added.append(rel)
        shutil.rmtree(stage)
        return added

    def _commit(self, op: str, added: Iterable[str] = (), removed: Iterable[str] = ()) -> int:
        """Commit one version: ``removed`` leave the table and ``added``
        (files already in place) join it.  Returns the version."""
        now = int(time.time() * 1000)
        actions: list[dict] = [
            {"remove": {"path": f, "deletionTimestamp": now, "dataChange": True}}
            for f in removed
        ]
        actions += [
            {"add": {"path": f, "partitionValues": partition_values(f),
                     "size": os.path.getsize(os.path.join(self.path, f)),
                     "modificationTime": now, "dataChange": True}}
            for f in added
        ]
        actions.append({"commitInfo": {"timestamp": now, "operation": op}})
        with path_lock(self.path):
            return self._log.commit(actions)

    def _head_files(self) -> list[str]:
        snap = self._log.head()
        return list(snap.files) if snap else []

    def _read_head(self) -> tuple[list[str], DataFrame]:
        """The head snapshot's files and a scan of exactly those files.  A
        table with no log is its directory, and a rewrite of it replaces
        nothing the log knows of."""
        snap = self._log.head()
        if snap is None:
            return [], self.spark.read.schema(self._storage_schema()).parquet(self.path)
        return list(snap.files), self._scan(snap.files)

    def _scan(self, files: Iterable[str]) -> DataFrame:
        files = list(files)
        if not files:
            return self.spark.createDataFrame([], self._storage_schema())
        return _scan_files(self.spark, self.path, files, self._storage_schema())

    def snapshots(self) -> list[dict]:
        """One record per version in the log: its number, the operation
        that committed it and its file list."""
        log = self._log
        out = []
        for v in log.versions():
            op = next(a["commitInfo"]["operation"] for a in log.actions(v)
                      if "commitInfo" in a)
            out.append({"version": v, "op": op, "files": sorted(log.snapshot(v).files)})
        return out

    def read_at(self, version: int) -> DataFrame:
        """The table as of snapshot `version`: scans ONLY that version's
        files, with the engine's read semantics applied.  Every version in
        the log reads back until vacuum() expires it."""
        return self._with_engine_semantics(self._scan(self._log.snapshot(version).files))

    def vacuum(self, keep_last: int = 10) -> tuple[int, int]:
        """Trim history and delete unreferenced data files — the lake
        VACUUM/expire-snapshots job, and the only code that deletes data
        files.  Keeps the most recent ``keep_last`` versions (at least 1);
        deletes every data file none of them references (the parts earlier
        versions removed, and the orphans of crashed writes) and drops the
        older versions from the log.  Returns (versions_removed,
        files_removed).  read_at/changed_files of an expired version raise
        with the surviving version list.  Another process's write in flight
        is not seen; run vacuum when no other process writes the table."""
        if self.config.life_cycle != LifeCycle.FULLY_MANAGED:
            # EXTERNALLY_MANAGED data was never committed (every file would
            # look unreferenced and be wiped); DELETION_PROTECTED forbids
            # the file removal outright
            raise PermissionError(f"{self.name} life_cycle forbids vacuum")
        log = self._log
        with path_lock(self.path):
            versions = log.versions()
            if not versions:
                # no log (files written by another engine): NOTHING is
                # provably unreferenced — refuse to guess
                return 0, 0
            keep = versions[-max(keep_last, 1):]
            referenced = set().union(*(log.snapshot(v).files for v in keep))
            files_removed = 0
            for root, _dirs, files in os.walk(self.path, topdown=False):
                for f in files:
                    rel = os.path.relpath(os.path.join(root, f), self.path)
                    if f.endswith(".parquet") and rel not in referenced:
                        os.remove(os.path.join(root, f))
                        files_removed += 1
                # a dir left without data (an emptied partition, a crashed
                # write's staging dir) goes too, so no scan trips on it
                if root != self.path and not any(
                    e.endswith(".parquet") or os.path.isdir(os.path.join(root, e))
                    for e in os.listdir(root)
                ):
                    shutil.rmtree(root)
            return log.expire(keep[0]), files_removed

    def changed_files(self, from_version: int, to_version: int) -> list[str]:
        """Files ADDED between two snapshots — the incremental-consumption
        feed (a downstream job reads only these, never re-scans history)."""
        before = set(self._log.snapshot(from_version).files) if from_version >= 1 else set()
        return sorted(set(self._log.snapshot(to_version).files) - before)

    def restore(self, version: int) -> int:
        """Roll the live table back to snapshot `version` by committing its
        file set: the files later versions added leave the table, the ones
        they removed come back.  No data is copied or deleted, so the
        versions after `version` stay readable too, and the restore itself
        is in the history.  Returns the number of files the commit
        removed."""
        with path_lock(self.path):
            want = self._log.snapshot(version).files
            have = self._head_files()
            removed = [f for f in have if f not in want]
            self._commit(f"restore v{version}", [f for f in want if f not in have], removed)
            self._rebuild_projections()
        return len(removed)

    def insert(
        self,
        data: Sequence[dict | T] | Iterator[dict | T] | DataFrame,
        options: Optional[InsertOptions] = None,
    ) -> InsertResult:
        """Insert with validation strategies (olap_table.py:988-1055).

        - Sequence: validated per-row via Pydantic then appended as one block
        - Iterator: consumed in 1000-row batches (olap_table.py:961)
        - DataFrame: appended as-is (already-typed fast path)
        """
        options = options or InsertOptions()
        if isinstance(data, DataFrame):
            # count via an Observation riding the write's own execution —
            # a separate data.count() would re-run the entire input lineage
            # (at 100 TB the insert source would compute twice)
            from pyspark.sql import Observation

            obs = Observation()
            self._append_df(data.observe(obs, F.count(F.lit(1)).alias("n")))
            return InsertResult(inserted=obs.get["n"], failed=0)

        if isinstance(data, Iterator):
            total_ok = 0
            all_failed: list[tuple[dict, str]] = []
            batch: list = []
            for item in data:
                batch.append(item)
                if len(batch) >= STREAM_INSERT_BATCH:
                    r = self._insert_block(batch, options)
                    total_ok += r.inserted
                    all_failed.extend(zip([None] * len(r.errors), r.errors))
                    batch = []
            if batch:
                r = self._insert_block(batch, options)
                total_ok += r.inserted
                all_failed.extend(zip([None] * len(r.errors), r.errors))
            return InsertResult(total_ok, len(all_failed), [e for _, e in all_failed])

        return self._insert_block(list(data), options)

    def _insert_block(self, rows: list, options: InsertOptions) -> InsertResult:
        if options.strategy == "isolate":
            return self._insert_isolate(rows, options)
        ok, failed = self._validate_rows(rows, options)
        self._check_thresholds(len(ok), failed, options)
        if ok:
            self._append_rows(ok)
        return InsertResult(len(ok), len(failed), [e for _, e in failed])

    def _append_rows(self, rows: list[dict]) -> None:
        """Append already-validated rows (_validate_row output) as one
        part file per MAX_INSERT_BLOCK rows, like a MergeTree insert
        writing one part per block."""
        self._check_writable()
        if not self._arrow_appendable():
            # without the coalesce a 1-row insert fans out into a mostly
            # empty file per default partition (the small-files explosion)
            n_files = max(1, math.ceil(len(rows) / MAX_INSERT_BLOCK))
            self._append_df(self.spark.createDataFrame(rows, self.schema).coalesce(n_files))
            return
        with path_lock(self.path):
            added = _write_arrow_part(self.path, rows, self.schema,
                                      self._parquet_compression(),
                                      self.config.order_by_fields)
            self._commit("append", added)

    def _insert_isolate(self, rows: list, options: InsertOptions) -> InsertResult:
        """Binary-split retry (olap_table.py:821-874): try the whole block;
        on failure split in halves recursively so every valid row lands and
        every poison row is isolated with its own error."""
        ok_rows: list[dict] = []
        failures: list[tuple[Any, str]] = []

        def attempt(chunk: list) -> None:
            try:
                ok_rows.extend([self._validate_row(r) for r in chunk])
            except Exception as exc:
                if len(chunk) == 1:
                    failures.append((chunk[0], str(exc)))
                else:
                    mid = len(chunk) // 2
                    attempt(chunk[:mid])
                    attempt(chunk[mid:])

        attempt(rows)
        self._check_thresholds(len(ok_rows), failures, options)
        if ok_rows:
            self._append_rows(ok_rows)
        return InsertResult(len(ok_rows), len(failures), [e for _, e in failures])

    # -- reads -------------------------------------------------------------

    def read_raw(self) -> DataFrame:
        """Physical rows, pre-merge state included."""
        eng = self.config.engine
        if isinstance(eng, (S3, S3Queue)):
            # S3: direct path read; S3Queue batch read = current backlog
            # (the streaming consume path is stream_reader())
            return (
                self.spark.read.schema(self._storage_schema())
                .format(eng.format)
                .load(eng.path)
            )
        if isinstance(eng, Merge):
            return self._merge_union(eng)
        if isinstance(eng, IcebergS3):
            # local directory-layout table -> native metadata walk (no
            # Iceberg jars needed, catalog/iceberg_native.py); anything
            # else (catalog refs, s3://) needs the iceberg-spark runtime
            loc = eng.table
            loc_path = loc[7:] if loc.startswith("file://") else loc
            if os.path.isdir(os.path.join(loc_path, "metadata")):
                from moosestack_spark.catalog.iceberg_native import (
                    IcebergNativeTable,
                )

                return IcebergNativeTable(self.spark, loc_path).read()
            return self.spark.read.format("iceberg").load(loc)
        if isinstance(eng, Kafka):
            raise PermissionError(
                f"{self.name}: Kafka engine tables are streaming-only — "
                "use stream_reader()"
            )
        return self._read_head()[1]

    def _merge_union(self, eng: Merge) -> DataFrame:
        """Merge engine (blocks.py:512-533): unionByName over warehouse
        tables whose physical name matches the regex, each read through its
        own log (a logless member as its directory; an empty member is
        skipped); columns missing from a member surface as NULLs
        (allowMissingColumns)."""
        from pyspark.errors import AnalysisException

        db_dir = os.path.join(self.warehouse, self.config.database or "default")
        pat = re.compile(eng.table_regex)
        out: Optional[DataFrame] = None
        for name in sorted(os.listdir(db_dir)) if os.path.isdir(db_dir) else []:
            tdir = os.path.join(db_dir, name)
            if (name == self.physical_name or is_sibling_dir(name)
                    or not pat.fullmatch(name) or not os.path.isdir(tdir)):
                continue
            snap = TxLog(tdir + SNAPSHOTS_SUFFIX, first=1).head()
            if snap is None:
                try:
                    member = self.spark.read.parquet(tdir)
                except AnalysisException:  # no parquet to infer a schema from
                    continue
            elif snap.files:
                member = _scan_files(self.spark, tdir, snap.files)
            else:
                continue
            out = member if out is None else out.unionByName(
                member, allowMissingColumns=True
            )
        if out is None:
            return self.spark.createDataFrame([], self.schema)
        return out

    def stream_reader(self):
        """Streaming source for queue/topic engines:

        - S3Queue (blocks.py:290-314): file-stream over the path — with a
          checkpoint this is exactly-once per file, the same guarantee the
          CH engine documents;
        - Kafka (blocks.py:482-508): kafka source (needs the
          spark-sql-kafka connector on the cluster classpath), with the
          reference sync's batching discipline pinned in
          kafka_reader_options.
        """
        eng = self.config.engine
        if isinstance(eng, S3Queue):
            return (
                self.spark.readStream.schema(self._storage_schema())
                .format(eng.format)
                .load(eng.path)
            )
        if isinstance(eng, Kafka):
            return (
                self.spark.readStream.format("kafka")
                .options(**kafka_reader_options(eng))
                .load()
            )
        raise TypeError(f"engine {eng.name} is not a streaming source")

    def _storage_schema(self):
        return self.schema

    def read(self) -> DataFrame:
        """Engine read semantics applied (SURVEY.md §1.4)."""
        return self._with_engine_semantics(self.read_raw())

    def _with_engine_semantics(self, df: DataFrame) -> DataFrame:
        eng = self.config.engine
        if isinstance(eng, ReplacingMergeTree):
            keys = self._sort_keys()
            # no version column: tiebreak on the PAYLOAD columns (content-
            # ordered survivor).  Constraints that matter:
            # - not the partition keys (identical per window -> arbitrary);
            # - not is_deleted (a tombstone winning purely because 1 > 0
            #   would erase keys with live rows);
            # - orderable types only (maps cannot be sorted).
            # Ties on the whole orderable payload fall to is_deleted ASC:
            # the live row wins over an otherwise-identical tombstone.
            excluded = {*keys, eng.ver, eng.is_deleted} - {None}
            candidates = sorted(c for c in df.columns if c not in excluded)
            ordp, _ = engine_views.split_orderable(df, candidates)
            tiebreakers = ordp or keys
            return engine_views.replacing_latest(
                df, keys, version_col=eng.ver, is_deleted_col=eng.is_deleted,
                tiebreakers=() if eng.ver else tiebreakers,
            )
        if isinstance(eng, SummingMergeTree):
            keys = self._sort_keys()
            sum_cols = list(eng.columns) or [
                f.name
                for f in self.schema.fields
                if f.name not in keys and f.dataType.typeName() in
                ("long", "integer", "short", "byte", "double", "float", "decimal")
            ]
            return engine_views.summing_rollup(df, keys, sum_cols)
        if isinstance(eng, VersionedCollapsingMergeTree):
            keys = [k for k in self._sort_keys() if k not in (eng.sign, eng.version)]
            return engine_views.versioned_collapsing_resolve(df, keys, eng.sign, eng.version)
        if isinstance(eng, CollapsingMergeTree):
            keys = [k for k in self._sort_keys() if k != eng.sign]
            return engine_views.collapsing_resolve(df, keys, eng.sign)
        return df

    def _sort_keys(self) -> list[str]:
        if self.config.order_by_fields:
            return list(self.config.order_by_fields)
        return [c.name for c in self.columns if c.primary_key]

    # -- maintenance (moose truncate / peek, cli/commands.rs) --------------

    def truncate(self) -> None:
        """Commit an empty version; the data stays readable at the earlier
        versions until vacuum()."""
        if self.config.life_cycle != LifeCycle.FULLY_MANAGED:
            raise PermissionError(f"{self.name} life_cycle forbids truncate")
        with path_lock(self.path):
            self._commit("truncate", removed=self._head_files())
            for proj in self.config.projections:
                shutil.rmtree(self._projection_path(proj.name), ignore_errors=True)

    def peek(self, n: int = 10) -> list[dict]:
        """moose peek (cli/commands.rs:104-118)."""
        return [r.asDict(recursive=True) for r in self.read().limit(n).collect()]

    def drop(self) -> None:
        if self.config.life_cycle == LifeCycle.DELETION_PROTECTED:
            raise PermissionError(f"{self.name} is DELETION_PROTECTED")
        with path_lock(self.path):
            remove_table_dirs(self.path)
        # a dropped table must leave the lifecycle registry, or the next
        # plan/migrate re-creates it from the dangling entry
        from moosestack_spark.catalog import resources

        resources.unregister_table(self)

    def seed_from(self, source: DataFrame) -> int:
        """`moose seed` (cli/commands.rs:498-512): copy rows from a source
        DataFrame (remote catalog table, another environment's export, ...)
        applying the table's seed_filter WHERE + LIMIT.  Returns rows
        seeded.  The filter is pushed into the source scan by Catalyst —
        a seed of a 100 TB source with a selective WHERE reads only the
        matching splits."""
        sf = self.config.seed_filter
        df = source
        if sf and sf.where:
            df = df.filter(sf.where)
        if sf and sf.limit is not None:
            df = df.limit(sf.limit)
        df = df.select(*[f.name for f in self.schema.fields])
        # Materialize once: count() and _append_df() as independent jobs over
        # a lazy source can observe different rows (LIMIT without ordering,
        # nondeterministic sources), making the returned count unreliable.
        df = df.localCheckpoint(eager=True)
        n = df.count()
        self._append_df(df)
        return n

    # -- projections (OlapConfig.TableProjection, olap_table.py:176-180) ---

    def _projection_path(self, name: str) -> str:
        # sibling dir (suffix, not child) so base parquet reads never see it
        return self.path + f"__proj_{name}"

    def _write_projections(self, df: DataFrame) -> None:
        for proj in self.config.projections:
            out = df
            if proj.order_by:
                out = df.sortWithinPartitions(*proj.order_by)
            out.write.mode("append").parquet(self._projection_path(proj.name))

    def read_for_predicate(self, *filter_cols: str) -> DataFrame:
        """Route a read to the physical copy whose sort key serves the
        predicate columns best (CH picks projections the same way): the
        copy with the longest sort-key prefix contained in filter_cols;
        ties/none -> base table.  Row-group min/max stats on the matching
        copy then prune the scan."""
        want = set(filter_cols)

        def prefix_len(keys: Sequence[str]) -> int:
            n = 0
            for k in keys:
                if k in want:
                    n += 1
                else:
                    break
            return n

        best_df = self.read()
        best_score = prefix_len(self._sort_keys())
        for proj in self.config.projections:
            score = prefix_len(list(proj.order_by))
            if score > best_score and os.path.isdir(self._projection_path(proj.name)):
                try:
                    cand = self.spark.read.schema(self._storage_schema()).parquet(
                        self._projection_path(proj.name)
                    )
                except Exception:
                    continue
                # projections hold the same raw rows — the engine read
                # semantics (dedup/rollup/collapse) apply to them too, or
                # the two physical copies would answer differently
                best_df, best_score = self._with_engine_semantics(cand), score
        return best_df

    def _rebuild_projections(self) -> None:
        """Re-derive every projection from the (rewritten) base — TTL and
        OPTIMIZE rewrite the base files; stale projections would resurrect
        deleted rows."""
        if not self.config.projections:
            return
        base = self.read_raw()
        for proj in self.config.projections:
            shutil.rmtree(self._projection_path(proj.name), ignore_errors=True)
        self._write_projections(base)

    def optimize(
        self,
        target_files: Optional[int] = None,
        zorder_by: Optional[Sequence[str]] = None,
    ) -> int:
        """Compaction — the explicit counterpart of MergeTree background
        merges (CH merges small parts into sorted bigger ones continuously;
        here OPTIMIZE is a scheduled job, like `OPTIMIZE TABLE ... FINAL`).

        Rewrites the table into `target_files` files, each internally sorted
        by the ORDER BY key, so parquet row-group min/max stats prune range
        scans; partitioned tables keep their partitioning.  Returns the
        number of files written.  At 100 TB run per partition (only
        partitions with small-file buildup), never table-wide.

        ``zorder_by=(x, y)`` clusters by the Morton interleave of two
        integer columns instead of the ORDER BY key (the Delta/Iceberg
        OPTIMIZE ZORDER shape, ops/layout.py): every output file then
        covers a small rectangle of BOTH dimensions, so min/max file stats
        prune on either predicate.
        """
        with path_lock(self.path):
            files, df = self._read_head()
            n_rows = df.count()
            if target_files is None:
                # ~128MB-file heuristic is meaningless on toy data; default to
                # one file per shuffle partition bounded by row count
                target_files = max(1, min(8, n_rows // 10_000 or 1))
            if zorder_by is not None:
                from moosestack_spark.ops.layout import cluster_by_zorder

                if len(zorder_by) != 2:
                    raise ValueError("zorder_by takes exactly two columns")
                # reserved temp column: never clobber a user column (a table
                # column literally named "zorder" would otherwise be silently
                # overwritten and dropped by the rewrite)
                zcol = "__zorder_opt"
                if zcol in df.columns:
                    raise ValueError(
                        f"optimize(zorder_by=...): column {zcol!r} is reserved"
                    )
                out = cluster_by_zorder(
                    df, zorder_by[0], zorder_by[1],
                    num_partitions=target_files, out_col=zcol,
                ).drop(zcol)
            elif keys := self._sort_keys():
                out = df.repartitionByRange(target_files, *keys).sortWithinPartitions(*keys)
            else:
                out = df.coalesce(target_files)
            return len(self._rewrite(out, files))

    _TTL_RE = r"^\s*(\w+)\s*\+\s*INTERVAL\s+(\d+)\s+(\w+)\s*$"
    _TTL_SECONDS = {
        "SECOND": 1,
        "MINUTE": 60,
        "HOUR": 3600,
        "DAY": 86400,
        "WEEK": 604800,
    }

    def _ttl_cutoff(self, expr: str, now: datetime) -> tuple[str, datetime]:
        m = re.match(self._TTL_RE, expr, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported TTL expression: {expr!r}")
        ts_col, n, unit = m.group(1), int(m.group(2)), m.group(3).upper()
        if unit not in self._TTL_SECONDS:
            raise ValueError(f"unsupported TTL unit {unit!r}")
        return ts_col, now - timedelta(seconds=n * self._TTL_SECONDS[unit])

    def apply_column_ttl(self, now: Optional[datetime] = None) -> dict[str, int]:
        """Column-level TTL (ClickHouseTTL annotation, data_models.py:70-72):
        when a column's TTL expression passes, its value resets (NULL here;
        CH resets to the column default).  Returns {column: values_cleared}.
        One rewrite covers all expired columns; at scale run per partition
        like apply_ttl."""
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        ttl_cols = [c for c in self.columns if c.ttl]
        if not ttl_cols:
            return {}
        with path_lock(self.path):
            files, df = self._read_head()
            cleared: dict[str, int] = {}
            out = df
            for c in ttl_cols:
                ts_col, cutoff = self._ttl_cutoff(c.ttl, now)
                expired = (F.col(ts_col) <= F.lit(cutoff)) & F.col(c.name).isNotNull()
                cleared[c.name] = df.filter(expired).count()
                out = out.withColumn(
                    c.name,
                    F.when(F.col(ts_col) <= F.lit(cutoff), F.lit(None)).otherwise(
                        F.col(c.name)
                    ),
                )
            if any(cleared.values()):
                self._rewrite(out, files)
        return cleared

    def apply_ttl(self, now: Optional[datetime] = None) -> int:
        """Retention job for the table TTL (ClickHouseTTL data_models.py:70-72;
        TtlChanged infrastructure_map.rs:334-340).  CH deletes expired rows at
        merge time; here it is an explicit scheduled job — a filtered rewrite
        keeping rows within the window.  Returns the number of rows deleted.

        TTL grammar (the subset the reference's templates use):
        ``<ts_column> + INTERVAL <n> <unit>`` — a row expires when
        ts + interval <= now.  At scale: run per partition and skip
        partitions whose max(ts) is inside the window (partition pruning
        makes the rewrite touch only expiring partitions).
        """
        if not self.config.ttl:
            return 0
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        ts_col, cutoff = self._ttl_cutoff(self.config.ttl, now)
        # NULL TTL timestamps never expire (CH semantics: a NULL TTL
        # expression row is kept) — a bare > predicate would silently
        # delete them
        expired = F.col(ts_col) <= F.lit(cutoff)
        return self._mutate(expired, lambda df: df.filter(~F.coalesce(expired, F.lit(False))))

    def delete_where(self, predicate: str) -> int:
        """``ALTER TABLE ... DELETE WHERE <predicate>`` (the CH mutation the
        reference issues for data corrections; SQL passthrough surface —
        apps/framework-cli ddl plans treat mutations as data ops, not schema
        diffs).  Deletes rows where the predicate is TRUE; FALSE and NULL
        rows are kept (CH mutation semantics).  Returns rows deleted.

        Scale shape: on a partitioned table only the partitions containing
        matching rows are rewritten (the direct analogue of CH mutating only
        parts that contain matching rows); untouched partitions are never
        read or written, and a partition whose rows are ALL deleted leaves
        the table with its files."""
        pred = F.expr(predicate)
        return self._mutate(pred, lambda df: df.filter(~F.coalesce(pred, F.lit(False))))

    def update_where(self, assignments: dict[str, str], predicate: str) -> int:
        """``ALTER TABLE ... UPDATE col = expr WHERE <predicate>`` (the other
        CH mutation; same SQL passthrough surface as delete_where).  Rewrites
        matching rows with the assignment expressions; FALSE/NULL-predicate
        rows are untouched.  Assignment expressions may reference any column
        of the row (CH mutation semantics) and are cast back to the column's
        declared type so the table schema never drifts.  Key columns
        (partition / order-by) cannot be updated — CH rejects mutations on
        key columns, and allowing a partition-column update would silently
        move rows between partitions mid-rewrite.  Returns rows updated.

        Scale shape mirrors delete_where: on a partitioned table only the
        partitions containing matching rows are rewritten."""
        if not assignments:
            return 0
        key_cols = set(self.config.order_by_fields or ())
        if self.config.partition_by:
            key_cols.add(self.config.partition_by)
        banned = key_cols & set(assignments)
        if banned:
            raise ValueError(f"cannot UPDATE key column(s): {sorted(banned)}")
        types = dict((f.name, f.dataType) for f in self._storage_schema().fields)
        unknown = set(assignments) - set(types)
        if unknown:
            raise ValueError(f"unknown column(s) in UPDATE: {sorted(unknown)}")
        pred = F.expr(predicate)
        cond = F.coalesce(pred, F.lit(False))

        def _apply(frame: DataFrame) -> DataFrame:
            return frame.select(*(
                F.when(cond, F.expr(assignments[c]).cast(types[c]))
                .otherwise(F.col(c)).alias(c)
                if c in assignments else F.col(c)
                for c in frame.columns
            ))

        return self._mutate(pred, _apply)

    # Mutations collect the distinct partition values a predicate touches so
    # only those partitions are rewritten.  On a sane layout that is bounded
    # by partition count; a table partitioned by a high-cardinality column
    # would turn this into an unbounded driver collect, so count in-plan
    # first and refuse loudly above this cap.
    MUTATION_PARTITION_CAP = 100_000

    def _affected_partitions(self, df: DataFrame, pred, pb: str) -> set[Optional[str]]:
        """The ``pb`` partition values, as spelled in partition paths, of the
        rows matching ``pred``, guarded by MUTATION_PARTITION_CAP (count runs
        in-plan; the collect only happens once the cardinality is known to
        be bounded).  An empty string is stored as the default (null)
        partition."""
        distinct_vals = df.filter(pred).select(F.col(pb).cast("string")).distinct()
        n = distinct_vals.count()
        if n > self.MUTATION_PARTITION_CAP:
            raise ValueError(
                f"mutation touches {n} distinct '{pb}' partition values "
                f"(cap {self.MUTATION_PARTITION_CAP}); partitioning by a "
                "high-cardinality column makes per-partition rewrite "
                "driver-unbounded — repartition the table or widen the "
                "predicate to full-table rewrite"
            )
        return {r[0] or None for r in distinct_vals.collect()}

    def _mutate(self, pred, apply: Callable[[DataFrame], DataFrame]) -> int:
        """Rewrite through ``apply`` the files that hold rows matching
        ``pred`` — on a partitioned table the files of the partitions that
        hold them, on any other table all of its files — and commit the
        result in their place.  Returns the number of matching rows."""
        with path_lock(self.path):
            files, df = self._read_head()
            n = df.filter(pred).count()
            if n == 0:
                return 0
            pb = self.config.partition_by
            if pb and files:
                affected = self._affected_partitions(df, pred, pb)
                files = [f for f in files if partition_values(f).get(pb) in affected]
                df = self._scan(files)
            self._rewrite(apply(df), files)
        return n

    def _rewrite(self, df: DataFrame, removed: Sequence[str]) -> list[str]:
        """Write ``df`` as new files in the table's layout (the same
        partitionBy and bloom-filter options as _append_df, or reads of a
        mixed layout would drop rows) and commit them in place of
        ``removed``, the files ``df`` was read from.  The caller holds
        path_lock from its read through here.  Projections are re-derived
        from the result.  Returns the files written."""
        writer = df.write
        for k, v in self._parquet_index_options().items():
            writer = writer.option(k, v)
        if self.config.partition_by:
            writer = writer.partitionBy(self.config.partition_by)
        added = self._stage(writer.parquet)
        self._commit("rewrite", added, removed)
        self._rebuild_projections()
        return added
