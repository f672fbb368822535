"""Native Apache Iceberg v2 table reader/writer — pure python metadata walk,
Spark parquet scan, no Iceberg/Avro jars.

The reference's Iceberg surface (packages blocks.py:425-478) configures an
IcebergS3 table engine and delegates reads to ClickHouse's Iceberg
integration.  This sandbox has no Iceberg runtime jars, so the metadata
layer is implemented here directly from the public Iceberg Table Spec
(https://iceberg.apache.org/spec/): version-hint / vN.metadata.json
resolution, snapshot selection (current or by id — time travel), Avro
manifest-list and manifest walks (catalog/avro.py), partition-summary and
partition-value pruning, then ``spark.read.parquet(<matching files>)`` so
the DATA path stays a distributed, pushdown-capable Spark scan.

Scale shape: metadata walking is O(manifests) on the driver — the same
work an Iceberg client library does — while all row work is executor-side.
Manifest-level pruning uses the spec's field_summary lower/upper bounds so
a selective read opens only the manifests whose range covers the value.

Iceberg v2 row-level deletes ARE supported, Spark-first:

- POSITION deletes (data_file.content=1): parquet files of
  (file_path, pos).  The reader scans data files with Spark's parquet
  ``_metadata.file_path`` / ``_metadata.row_index`` columns — the exact
  (file, ordinal) identity the spec's ``pos`` refers to — and removes
  deleted rows with one LEFT ANTI join on (file_path, pos) gated by the
  spec's sequence-number rule (delete_seq >= data_seq).
- EQUALITY deletes (data_file.content=2): parquet files of key columns
  named by ``equality_ids``.  Applied as a null-safe LEFT ANTI join per
  distinct key-column set, gated by delete_seq > data_seq (strict, per
  spec).  File→sequence-number attachment on both sides is a broadcast
  join against the (file-count-bounded) manifest walk, so the delete
  application itself is fully distributed; Catalyst/AQE picks the join
  strategy for the delete side (broadcast when small, shuffle when not).

ALL scalar partition transforms are supported (write + pruned read):
bucket[N], truncate[W] (floor-mod, exact for negatives), and the
year/month/day/hour epoch-relative ordinals.  bucket[N]:
murmur3_x86_32 of the long's little-endian bytes per the spec (appendix B
vector pinned in tests), computed JVM-side by iceberg_bucket_sql for
writes and python-side for prune-time filter hashing — the
high-cardinality partitioning the identity PARTITION_CAP refusal points
at.

Multi-field partition specs (the shape real tables use, e.g.
(day(ts), bucket[N](key))) are supported in write + prune via
``spec_by=[(transform, source), ...]``; the PARTITION_CAP bounds the
distinct transformed-combination count.

Honest boundaries (raise, never silently wrong):
- the void transform;
- formats other than parquet data and delete files;
- position delete files carrying the optional ``row`` struct are read for
  (file_path, pos) only — which is lossless for delete application.

The writer exists so tables can be planted and appended in tests/gates
(this repo's codec-oracle policy); it emits spec-shaped v2 metadata that
the reader — or any Iceberg client — can walk.

Writes and concurrency: every writer (write, delete_where,
delete_equality, compact) writes its parquet files into a fresh
``data/<uuid4>/``, stages one manifest and one manifest list under uuid4
names with a random snapshot id (``_stage`` returns the next metadata
dict), and publishes that dict put-if-absent as the version after the one
it read.  Of two writers racing for one version, the loser raises
FileExistsError and every file of the winner's stays as it was; the
loser's files stay unreferenced until expire_snapshots removes them.  The
REST catalog (catalog/iceberg_rest.py) stages through the same ``_stage``
and sends the returned snapshot in its commit; it publishes no metadata
file here.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moosestack_spark.catalog.avro import read_container, write_container
from moosestack_spark.catalog.txlog import partition_values, publish


_VERSION_RE = re.compile(r"^v(\d+)\.metadata\.json$")


def metadata_version(path: str) -> int:
    """The n of a ``v{n}.metadata.json`` path."""
    m = _VERSION_RE.match(os.path.basename(path))
    if not m:
        raise ValueError(f"unparseable metadata filename: {path}")
    return int(m.group(1))


def _commit_metadata(meta_dir: str, version: int, meta: dict) -> None:
    """Publish ``v{version}.metadata.json`` put-if-absent, so a writer that
    lost the race for ``version`` raises FileExistsError instead of erasing
    the winner's commit, then point version-hint.text at it (replaced
    atomically)."""
    publish(os.path.join(meta_dir, f"v{version}.metadata.json"), json.dumps(meta, indent=1))
    hint = os.path.join(meta_dir, "version-hint.text")
    tmp = f"{hint}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, hint)


# ---------------------------------------------------------------------------
# Avro schemas for manifest list + manifest (spec appendix; field-id
# annotations omitted — they do not affect the binary encoding)
# ---------------------------------------------------------------------------

_FIELD_SUMMARY = {
    "type": "record",
    "name": "field_summary",
    "fields": [
        {"name": "contains_null", "type": "boolean"},
        {"name": "contains_nan", "type": ["null", "boolean"], "default": None},
        {"name": "lower_bound", "type": ["null", "bytes"], "default": None},
        {"name": "upper_bound", "type": ["null", "bytes"], "default": None},
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
        {
            "name": "partitions",
            "type": ["null", {"type": "array", "items": _FIELD_SUMMARY}],
            "default": None,
        },
    ],
}


def _manifest_schema(partition_fields: list[tuple[str, str]]) -> dict:
    """manifest_entry schema; partition_fields = [(name, avro_type)]."""
    part_record = {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": n, "type": ["null", t], "default": None}
            for n, t in partition_fields
        ],
    }
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {"name": "partition", "type": part_record},
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "default": None,
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {"name": "sequence_number", "type": ["null", "long"], "default": None},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None},
            {"name": "data_file", "type": data_file},
        ],
    }


_SPARK_TO_ICEBERG = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
}

_ICEBERG_TO_AVRO = {
    "long": "long", "int": "int", "double": "double", "float": "float",
    "string": "string", "boolean": "boolean", "date": "int", "timestamp": "long",
}

# a Hive partition dir's value text -> the partition value, by avro type
_AVRO_PARSE = {
    "int": int, "long": int, "double": float, "float": float,
    "boolean": lambda s: s == "true",
}


def _schema_fields(df: DataFrame) -> list[dict]:
    """Iceberg schema fields (ids from 1) for ``df``'s columns."""
    fields = []
    for i, (name, dt) in enumerate(df.dtypes, start=1):
        if dt not in _SPARK_TO_ICEBERG:
            raise NotImplementedError(
                f"column {name!r}: Spark type {dt} has no Iceberg "
                "mapping in the native writer"
            )
        fields.append(
            {"id": i, "name": name, "required": False, "type": _SPARK_TO_ICEBERG[dt]}
        )
    return fields


def _spec(df: DataFrame, spec_by: list[tuple[str, str]]) -> list[dict]:
    """Partition-spec fields for ``spec_by=[(transform, source), ...]``
    over ``df``'s columns; refuses a transform the writer cannot compute
    for the source's type."""
    dts = dict(df.dtypes)
    fields = []
    for j, (tf, src) in enumerate(spec_by):
        dt = dts.get(src)
        if dt is None:
            raise ValueError(f"partition source column {src!r} not in df")
        if tf.startswith(("bucket[", "truncate[")) and dt not in (
            "bigint", "int", "smallint", "tinyint",
        ):
            raise NotImplementedError(
                f"{tf} over {dt} column {src!r}: this writer "
                "hashes/truncates INTEGER keys only (string/"
                "decimal bucket hashing is not implemented — a "
                "silent CAST would null out the key)"
            )
        if tf in ("year", "month", "day", "hour") and dt not in (
            "date", "timestamp", "timestamp_ntz",
        ):
            raise NotImplementedError(
                f"{tf} over {dt} column {src!r} (date/timestamp only)"
            )
        suffix = re.sub(r"\W+", "", tf.split("[")[0])
        fields.append({
            "name": src if tf == "identity" else f"{src}_{suffix}",
            "transform": tf,
            "source-id": df.columns.index(src) + 1,
            "field-id": 1000 + j,
        })
    return fields


def _spec_of(meta: dict) -> dict:
    return {s["spec-id"]: s for s in meta["partition-specs"]}[meta["default-spec-id"]]


def _partition_fields(meta: dict) -> list[tuple[str, str, str, str]]:
    """(name, transform, source column, avro type of the value) for each
    field of the table's default partition spec."""
    cols = {f["id"]: f for f in meta["schemas"][0]["fields"]}
    out = []
    for f in _spec_of(meta)["fields"]:
        tf, src = f["transform"], cols[f["source-id"]]
        if tf.startswith(("bucket[", "year", "month", "day")):
            avro_t = "int"
        elif tf.startswith(("truncate[", "hour")):
            avro_t = "long"
        else:
            avro_t = _ICEBERG_TO_AVRO[src["type"]]
        out.append((f["name"], tf, src["name"], avro_t))
    return out


def _new_metadata(path: str, df: DataFrame, spec_by: list[tuple[str, str]]) -> dict:
    """Metadata of a table without a snapshot yet: ``df``'s schema and the
    ``spec_by`` partition spec."""
    schema = _schema_fields(df)
    return {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": path,
        "last-sequence-number": 0,
        "last-updated-ms": 0,
        "last-column-id": len(schema),
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": schema}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": _spec(df, spec_by)}],
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": None,
        "snapshots": [],
        "properties": {},
    }


def murmur3_32_long(v: int, seed: int = 0) -> int:
    """murmur3_x86_32 of the 8-byte little-endian encoding of a long —
    the Iceberg spec's bucket-transform hash (appendix B test vector:
    hash(34) = 2017239379, pinned in tests)."""

    def rotl32(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    v &= 0xFFFFFFFFFFFFFFFF
    h = seed
    for k in (v & 0xFFFFFFFF, (v >> 32) & 0xFFFFFFFF):
        k = (k * 0xCC9E2D51) & 0xFFFFFFFF
        k = rotl32(k, 15)
        k = (k * 0x1B873593) & 0xFFFFFFFF
        h ^= k
        h = rotl32(h, 13)
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 8
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def iceberg_bucket(v: int, n: int) -> int:
    """spec: bucket(N, v) = (murmur3(v) & Integer.MAX_VALUE) % N."""
    return (murmur3_32_long(v) & 0x7FFFFFFF) % n


def iceberg_transform(tf: str, val) -> int:
    """Apply a non-identity partition transform to a FILTER value at
    prune time (python side; the writer's per-row spelling is the
    matching Spark expression in iceberg_transform_sql).  Date transforms
    take a datetime.date or 'YYYY-MM-DD' string."""
    import datetime as _dt

    m = re.match(r"^bucket\[(\d+)\]$", tf)
    if m:
        return iceberg_bucket(int(val), int(m.group(1)))
    m = re.match(r"^truncate\[(\d+)\]$", tf)
    if m:
        w = int(m.group(1))
        v = int(val)
        return v - (v % w)  # python % is floor-mod: correct for negatives
    if tf == "hour":
        ts = (
            _dt.datetime.fromisoformat(val)
            if isinstance(val, str)
            else val
        )
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        return int((ts - epoch).total_seconds()) // 3600
    if tf in ("year", "month", "day"):
        d = (
            _dt.date.fromisoformat(val)
            if isinstance(val, str)
            else (val.date() if isinstance(val, _dt.datetime) else val)
        )
        if tf == "year":
            return d.year - 1970
        if tf == "month":
            return (d.year - 1970) * 12 + d.month - 1
        return (d - _dt.date(1970, 1, 1)).days
    raise NotImplementedError(
        f"partition pruning over transform {tf!r} "
        "(identity, bucket[N], truncate[W], year, month, day, hour)"
    )


def iceberg_transform_sql(tf: str, col: str) -> str:
    """Spark SQL expression computing a partition transform per row —
    value-identical to iceberg_transform on the filter side."""
    m = re.match(r"^bucket\[(\d+)\]$", tf)
    if m:
        return iceberg_bucket_sql(col, int(m.group(1)))
    m = re.match(r"^truncate\[(\d+)\]$", tf)
    if m:
        w = int(m.group(1))
        # Spark pmod gives the floor-mod the spec requires for negatives
        return f"CAST({col} - pmod({col}, {w}) AS BIGINT)"
    if tf == "year":
        return f"CAST(year({col}) - 1970 AS INT)"
    if tf == "month":
        return f"CAST((year({col}) - 1970) * 12 + month({col}) - 1 AS INT)"
    if tf == "day":
        return f"CAST(datediff({col}, DATE '1970-01-01') AS INT)"
    if tf == "hour":
        # session tz is UTC in this environment; unix_timestamp is exact
        return f"CAST(FLOOR(unix_timestamp({col}) / 3600) AS INT)"
    raise NotImplementedError(f"writer transform {tf!r}")


def iceberg_bucket_sql(col: str, n: int) -> str:
    """Spark SQL expression computing iceberg_bucket(col, n) for a BIGINT
    column — pure JVM arithmetic (32-bit multiplies via the 16-bit split
    that keeps products under 2^48; rotations via shift pairs), each step
    let-bound once through a single-element transform."""

    def bind(val: str, var: str, body: str) -> str:
        return f"element_at(transform(array({val}), {var} -> {body}), 1)"

    def mul32(x: str, c: int) -> str:
        return (
            f"(((({x}) % 65536) * {c} + (((({x}) DIV 65536) * {c}) % 65536)"
            f" * 65536) % 4294967296)"
        )

    def rotl(x: str, r: int) -> str:
        return (
            f"((shiftleft({x}, {r}) % 4294967296) | "
            f"shiftrightunsigned({x}, {32 - r}))"
        )

    # one mixing round for a 32-bit block held in variable name `kv`,
    # folding into accumulator expression `h`
    def round_(k_expr: str, h_expr: str) -> str:
        k1 = mul32(k_expr, 0xCC9E2D51)
        k2 = bind(k1, "__ik", rotl("__ik", 15))
        k3 = mul32(k2, 0x1B873593)
        hx = bind(f"({h_expr}) ^ ({k3})", "__ih", rotl("__ih", 13))
        return f"(({mul32(hx, 5)} + 3864292196) % 4294967296)"

    lo = f"(CAST({col} AS BIGINT) & 4294967295)"
    hi = f"shiftrightunsigned(CAST({col} AS BIGINT), 32)"
    h1 = bind(lo, "__b1", round_("__b1", "0"))
    h2 = bind(f"named_struct('h', {h1}, 'k', {hi})", "__s",
              round_("__s.k", "__s.h"))
    fin = bind(
        f"({h2}) ^ 8",
        "__f1",
        bind(
            mul32("(__f1 ^ shiftrightunsigned(__f1, 16))", 0x85EBCA6B),
            "__f2",
            bind(
                mul32("(__f2 ^ shiftrightunsigned(__f2, 13))", 0xC2B2AE35),
                "__f3",
                "(__f3 ^ shiftrightunsigned(__f3, 16))",
            ),
        ),
    )
    return f"CAST((({fin}) & 2147483647) % {n} AS INT)"


class IcebergNativeTable:
    """A directory-layout ("Hadoop catalog") Iceberg v2 table."""

    # identity partitioning by a high-cardinality column would make one
    # dir and one manifest entry per value — refuse loudly (same
    # discipline as OlapTable.MUTATION_PARTITION_CAP)
    PARTITION_CAP = 10_000

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")

    # -- metadata resolution -------------------------------------------------

    def _current_metadata_path(self) -> str:
        hint = os.path.join(self.meta_dir, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as fh:
                v = int(fh.read().strip())
            return os.path.join(self.meta_dir, f"v{v}.metadata.json")
        versions = [
            int(m.group(1))
            for f in os.listdir(self.meta_dir)
            if (m := _VERSION_RE.match(f))
        ]
        if not versions:
            raise FileNotFoundError(f"no metadata json under {self.meta_dir}")
        return os.path.join(self.meta_dir, f"v{max(versions)}.metadata.json")

    def metadata(self) -> dict:
        return self._head()[1]

    def snapshots(self) -> list[dict]:
        return self.metadata().get("snapshots", [])

    def current_snapshot_id(self) -> int:
        return self.metadata()["current-snapshot-id"]

    # -- read path -----------------------------------------------------------

    def _scan(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict | None = None,
    ) -> dict:
        """Walk manifest list + manifests of the chosen snapshot.  Returns
        {"data": [(path, seq)], "pos": [(path, seq)],
         "eq": [(path, seq, (col, ...))]}.

        ``partition_filter`` is {partition_field: value} equality over
        identity transforms; manifest-level field_summary bounds prune
        whole DATA manifests first.  Delete manifests are never pruned —
        applying a delete file to rows outside its partition is a no-op,
        so the conservative walk stays correct."""
        meta = self.metadata()
        snap_id = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
        snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
        if snap_id not in snaps:
            raise ValueError(
                f"snapshot {snap_id} not found; have {sorted(snaps)}"
            )
        fields = _partition_fields(meta)
        part_names = [name for name, *_ in fields]
        # resolve the caller's filter onto partition-FIELD space: identity
        # fields match by field/source name; transformed fields accept a
        # filter on the SOURCE column and transform it to the field value
        if partition_filter:
            resolved: dict = {}
            unresolved = dict(partition_filter)
            for name, tf, src, _ in fields:
                if name in unresolved:
                    resolved[name] = unresolved.pop(name)
                elif src in unresolved:
                    val = unresolved.pop(src)
                    resolved[name] = val if tf == "identity" else iceberg_transform(tf, val)
            if unresolved:
                raise ValueError(
                    f"filter keys {sorted(unresolved)} match no partition "
                    f"field or source column (fields: {part_names})"
                )
            partition_filter = resolved
        id_to_col = {
            f["id"]: f["name"] for f in meta["schemas"][0]["fields"]
        }
        mlist_path = self._local(snaps[snap_id]["manifest-list"])
        _, manifests = read_container(mlist_path)
        out: dict = {"data": [], "pos": [], "eq": []}
        for mf in manifests:
            is_delete_manifest = mf.get("content", 0) == 1
            if (
                not is_delete_manifest
                and partition_filter
                and mf.get("partitions")
            ):
                if not _summaries_match(
                    mf["partitions"], part_names, partition_filter
                ):
                    continue  # manifest-level prune (data manifests only)
            _, entries = read_container(self._local(mf["manifest_path"]))
            for e in entries:
                if e["status"] == 2:  # DELETED
                    continue
                df_ = e["data_file"]
                if df_["file_format"].upper() != "PARQUET":
                    raise NotImplementedError(
                        f"file format {df_['file_format']} (parquet only)"
                    )
                # sequence-number inheritance: null on an ADDED entry means
                # the manifest's own sequence number (spec v2)
                seq = e.get("sequence_number")
                if seq is None:
                    seq = mf["sequence_number"]
                content = df_.get("content", 0)
                path = self._local(df_["file_path"])
                if content == 0:
                    if partition_filter:
                        part = df_.get("partition", {})
                        if any(
                            k in part and part[k] != v
                            for k, v in partition_filter.items()
                        ):
                            continue  # entry-level prune
                    out["data"].append((path, seq))
                elif content == 1:
                    out["pos"].append((path, seq, df_.get("record_count", 0)))
                elif content == 2:
                    ids = df_.get("equality_ids") or []
                    if not ids:
                        raise ValueError(
                            f"equality delete file {path} without equality_ids"
                        )
                    out["eq"].append(
                        (
                            path,
                            seq,
                            tuple(id_to_col[i] for i in ids),
                            df_.get("record_count", 0),
                        )
                    )
                else:
                    raise NotImplementedError(f"data_file content={content}")
        return out

    def data_files(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict | None = None,
    ) -> list[str]:
        """Matching parquet data-file paths (pruned).  A path listing alone
        cannot represent row-level deletes, so this raises when the
        snapshot carries any — use read(), which applies them."""
        scan = self._scan(snapshot_id, partition_filter)
        if scan["pos"] or scan["eq"]:
            raise NotImplementedError(
                "snapshot has row-level delete files; a bare file listing "
                "would over-count — use read()"
            )
        return [p for p, _ in scan["data"]]

    def read(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict | None = None,
    ) -> DataFrame:
        scan = self._scan(snapshot_id, partition_filter)
        if not scan["data"]:
            schema_fields = self.metadata()["schemas"][0]["fields"]
            cols = ", ".join(
                f"CAST(NULL AS {_iceberg_to_spark(f['type'])}) AS {f['name']}"
                for f in schema_fields
            )
            return self.spark.sql(f"SELECT {cols}").limit(0)
        df = self.spark.read.parquet(*[p for p, _ in scan["data"]])
        if not scan["pos"] and not scan["eq"]:
            return df
        return self._apply_deletes(df, scan)

    # Spark's parquet _metadata.file_path is a URI ("file:/x" or
    # "file:///x"); manifests store plain local paths — normalize both.
    @staticmethod
    def _norm_fp(col):
        return F.regexp_replace(col, "^file:(//)?", "")

    def _apply_deletes(self, df: DataFrame, scan: dict) -> DataFrame:
        """Remove rows claimed by position/equality delete files.  All row
        work is executor-side anti-joins; the only driver-built inputs are
        the (file path → sequence number) maps, bounded by file count."""
        spark = self.spark
        cols = df.columns
        df = df.withColumn(
            "__msk_fp", self._norm_fp(F.col("_metadata.file_path"))
        ).withColumn("__msk_pos", F.col("_metadata.row_index"))
        seq_df = spark.createDataFrame(
            [(p, s) for p, s in scan["data"]], "__msk_fp string, __msk_seq long"
        )
        df = df.join(F.broadcast(seq_df), "__msk_fp", "left")

        # manifests carry each delete file's exact record_count — hint a
        # broadcast while the delete side is provably small so the anti-
        # join never degrades to a sort-merge of the DATA side; above the
        # bound, Catalyst/AQE picks (a huge delete set should shuffle)
        def _maybe_broadcast(side, n_rows):
            return F.broadcast(side) if n_rows <= 2_000_000 else side

        if scan["pos"]:
            dseq = spark.createDataFrame(
                [(p, s) for p, s, _ in scan["pos"]], "__pdf string, __d_seq long"
            )
            pos = (
                spark.read.parquet(*[p for p, _, _ in scan["pos"]])
                .select(
                    self._norm_fp(F.col("file_path")).alias("__d_fp"),
                    F.col("pos").alias("__d_pos"),
                    self._norm_fp(F.col("_metadata.file_path")).alias("__pdf"),
                )
                .join(F.broadcast(dseq), "__pdf")
            )
            pos = _maybe_broadcast(pos, sum(rc for _, _, rc in scan["pos"]))
            # spec: a position delete applies to data files whose sequence
            # number is <= the delete file's
            df = df.join(
                pos,
                (df["__msk_fp"] == pos["__d_fp"])
                & (df["__msk_pos"] == pos["__d_pos"])
                & (pos["__d_seq"] >= df["__msk_seq"]),
                "left_anti",
            )

        # one anti-join per distinct equality-column set
        by_cols: dict[tuple, list[tuple[str, int, int]]] = {}
        for p, s, key_cols, rc in scan["eq"]:
            by_cols.setdefault(key_cols, []).append((p, s, rc))
        for key_cols, files in by_cols.items():
            dseq = spark.createDataFrame(
                [(p, s) for p, s, _ in files], "__pdf string, __d_seq long"
            )
            eq = (
                spark.read.parquet(*[p for p, _, _ in files])
                .select(
                    *[F.col(c).alias(f"__d_{c}") for c in key_cols],
                    self._norm_fp(F.col("_metadata.file_path")).alias("__pdf"),
                )
                .join(F.broadcast(dseq), "__pdf")
            )
            eq = _maybe_broadcast(eq, sum(rc for _, _, rc in files))
            cond = eq["__d_seq"] > df["__msk_seq"]  # strict, per spec
            for c in key_cols:
                # spec: equality matching is null-safe
                cond = cond & df[c].eqNullSafe(eq[f"__d_{c}"])
            df = df.join(eq, cond, "left_anti")
        return df.select(*cols)

    def _local(self, p: str) -> str:
        return p[7:] if p.startswith("file://") else p

    # -- write path (files -> _stage -> _commit_metadata) ---------------------

    @classmethod
    def write(
        cls,
        df: DataFrame,
        path: str,
        partition_by: str | None = None,
        mode: str = "overwrite",
        bucket_by: tuple[str, int] | None = None,
        transform_by: tuple[str, str] | None = None,
        spec_by: list[tuple[str, str]] | None = None,
        cluster_by: tuple[str, str] | None = None,
        cluster_files: int = 8,
    ) -> "IcebergNativeTable":
        """Write ``df`` as a new snapshot.  mode='overwrite' creates the
        table (v1) and raises FileExistsError if one exists at ``path``;
        mode='append' adds a snapshot whose manifest list references all
        prior manifests plus the new one, under the table's own spec and
        schema.  Data files are written by Spark executors; only the
        (bounded, partition-count-sized) manifest bookkeeping runs on the
        driver.

        ``bucket_by=(col, N)`` partitions by the spec's bucket[N]
        transform (murmur3 of the long's little-endian bytes, computed
        JVM-side by iceberg_bucket_sql) — the high-cardinality answer the
        identity PARTITION_CAP refusal points at: at most N partitions
        regardless of key cardinality.

        ``spec_by=[(transform, source_col), ...]`` writes a MULTI-FIELD
        partition spec — the shape real tables use, e.g.
        ``[("day", "ts"), ("bucket[4]", "key")]`` — with 'identity'
        accepted as a transform name.  The PARTITION_CAP applies to the
        count of distinct transformed COMBINATIONS.  An append that names
        a spec must name the table's.

        ``cluster_by=(x, y)`` Hilbert-clusters an UNPARTITIONED write
        (the Delta OPTIMIZE ZORDER / Iceberg rewrite_data_files
        sort-order shape): rows are range-partitioned + sorted by the
        Hilbert distance of (x, y) into ``cluster_files`` files, so each
        file's parquet min/max stats cover a small rectangle of BOTH
        columns and Spark's scan-side row-group pruning becomes selective
        on either — results are identical, only the layout changes."""
        table = cls(df.sparkSession, path)
        if sum(
            x is not None for x in (partition_by, bucket_by, transform_by, spec_by)
        ) > 1:
            raise ValueError(
                "pass exactly one of partition_by, bucket_by, transform_by, "
                "spec_by"
            )
        # every legacy single-field knob is sugar for a 1-entry spec_by
        if bucket_by:
            spec_by = [(f"bucket[{bucket_by[1]}]", bucket_by[0])]
        elif transform_by:
            spec_by = [transform_by]
        elif partition_by:
            spec_by = [("identity", partition_by)]
        if mode == "append":
            version, base = table._head()
            if spec_by is not None and _spec(df, spec_by) != _spec_of(base)["fields"]:
                raise ValueError(
                    f"append partitions by {spec_by}, unlike the table's spec "
                    "(partition evolution is not implemented)"
                )
        elif mode == "overwrite":
            if os.path.exists(os.path.join(table.meta_dir, "v1.metadata.json")):
                raise FileExistsError(
                    f"an Iceberg table exists at {path}; mode='append' adds "
                    "a snapshot to it"
                )
            version, base = 0, _new_metadata(path, df, spec_by or [])
        else:
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        if cluster_by:
            if _partition_fields(base):
                raise ValueError(
                    "cluster_by applies to unpartitioned writes (cluster "
                    "WITHIN partitions is not implemented — partition pruning "
                    "already covers the partitioned dims)"
                )
            from moosestack_spark.ops.layout import cluster_by_hilbert

            df = cluster_by_hilbert(
                df, *cluster_by, num_partitions=cluster_files,
                out_col="__ice_hilbert",
            ).drop("__ice_hilbert")
        files = table._append_files(df, base)
        _commit_metadata(
            table.meta_dir, version + 1, table._stage(base, files, "append")
        )
        return table

    def _head(self) -> tuple[int, dict]:
        """(version, metadata) of the current metadata file: the base a
        writer stages on; it commits ``version + 1``."""
        path = self._current_metadata_path()
        with open(path) as fh:
            return metadata_version(path), json.load(fh)

    def _append_files(self, df: DataFrame, base: dict) -> list[tuple[str, dict, int]]:
        """Write ``df``'s rows as data files under ``base``'s spec.  Rows
        whose schema differs from the table's are refused: a commit here
        carries no schema change."""
        if _schema_fields(df) != base["schemas"][0]["fields"]:
            raise NotImplementedError(
                "the rows' schema differs from the table's; schema evolution "
                "(add-schema/set-current-schema updates) is not implemented — "
                "evolve the schema first or write a new table"
            )
        return self._write_files(df, _partition_fields(base))

    def _write_files(
        self, df: DataFrame, fields: list[tuple[str, str, str, str]]
    ) -> list[tuple[str, dict, int]]:
        """The one file writer: a single Spark write of ``df`` into a fresh
        ``data/<uuid4>/``, Hive-partitioned by the spec ``fields``
        [(name, transform, source, avro type)].  Returns (path, partition,
        record_count) per non-empty file, the count read from its parquet
        footer."""
        import pyarrow.parquet as pq

        cols = [f"__ib{j}" for j in range(len(fields))]
        for c, (_, tf, src, _) in zip(cols, fields):
            df = df.withColumn(
                c,
                F.col(src) if tf == "identity"
                else F.expr(iceberg_transform_sql(tf, src)),
            )
        if cols:
            n = df.select(*cols).distinct().count()
            if n > self.PARTITION_CAP:
                raise ValueError(
                    f"{n} distinct partition values ({len(cols)}-field "
                    f"combinations; cap {self.PARTITION_CAP}): partitioning "
                    "by a high-cardinality key"
                )
        out_dir = os.path.join(self.path, "data", uuid.uuid4().hex)
        # the __ib* columns are copies, so the source columns stay in the
        # files as Iceberg requires; partitionBy drops only the copies
        df.write.partitionBy(*cols).parquet(out_dir)
        parents = [out_dir]  # rename __ibJ=v dirs to <field>=v, level by level
        for c, (name, *_) in zip(cols, fields):
            renamed = []
            for parent in parents:
                for child in os.listdir(parent):
                    if child.startswith(f"{c}="):
                        renamed.append(os.path.join(parent, name + child[len(c):]))
                        os.rename(os.path.join(parent, child), renamed[-1])
            parents = renamed
        files = []
        for root, dirs, names in os.walk(out_dir):
            dirs.sort()
            for f in sorted(names):
                fp = os.path.join(root, f)
                if f.endswith(".parquet") and (n := pq.read_metadata(fp).num_rows):
                    raw = partition_values(os.path.relpath(fp, out_dir))
                    part = {
                        name: raw[name] and _AVRO_PARSE.get(t, str)(raw[name])
                        for name, _, _, t in fields
                    }
                    files.append((fp, part, n))
        return files

    def _stage(
        self,
        base: dict,
        files: list[tuple[str, dict, int]],
        operation: str,
        content: int = 0,
        equality_ids: list[int] | None = None,
    ) -> dict:
        """Stage a snapshot of ``base`` adding ``files`` — data files, or
        delete files when ``content`` is 1 (position) or 2 (equality): one
        manifest and one manifest list under uuid4 names and a random
        snapshot id.  Returns the next metadata; publishes nothing.  A
        'replace' snapshot (compact) lists only the new manifest; any other
        keeps the base snapshot's manifests, so their files keep their
        sequence numbers."""
        os.makedirs(self.meta_dir, exist_ok=True)
        snap_id = uuid.uuid4().int >> 66  # a positive 62-bit long
        seq = base["last-sequence-number"] + 1
        part_fields = [(name, t) for name, _, _, t in _partition_fields(base)]
        entries = [
            {
                "status": 1,  # ADDED
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": content,
                    "file_path": fp,
                    "file_format": "PARQUET",
                    # delete files carry null partition values; the reader
                    # never prunes delete manifests (see _scan)
                    "partition": {name: part.get(name) for name, _ in part_fields},
                    "record_count": n,
                    "file_size_in_bytes": os.path.getsize(fp),
                    "equality_ids": equality_ids,
                },
            }
            for fp, part, n in files
        ]
        name = uuid.uuid4()
        manifest_path = os.path.join(self.meta_dir, f"{name}-m0.avro")
        write_container(manifest_path, _manifest_schema(part_fields), entries)
        rows = sum(n for _, _, n in files)
        manifests = [{
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": 0,
            "content": 1 if content else 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": 0 if content else rows,
            "existing_rows_count": 0,
            "deleted_rows_count": rows if content else 0,
            "partitions": _summaries_for(entries, part_fields)
            if part_fields and not content
            else None,
        }]
        if operation != "replace" and base["snapshots"]:
            prev = {s["snapshot-id"]: s for s in base["snapshots"]}[
                base["current-snapshot-id"]
            ]
            manifests = read_container(self._local(prev["manifest-list"]))[1] + manifests
        mlist_path = os.path.join(self.meta_dir, f"snap-{snap_id}-1-{name}.avro")
        write_container(mlist_path, _MANIFEST_LIST_SCHEMA, manifests)
        now = int(time.time() * 1000)
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": now,
            "manifest-list": mlist_path,
            "summary": {"operation": operation},
            "schema-id": 0,
        }
        return {
            **base,
            "last-sequence-number": seq,
            "last-updated-ms": now,
            "current-snapshot-id": snap_id,
            "snapshots": base["snapshots"] + [snapshot],
        }

    # -- row-level deletes (writer) -------------------------------------------

    def delete_where(self, condition) -> int:
        """Commit a POSITION-delete snapshot removing current rows matching
        ``condition`` (SQL string or Column).  Returns the number of
        deleted positions; when nothing matches, no snapshot is
        committed."""
        version, base = self._head()
        files = self._position_deletes(condition)
        if files:
            _commit_metadata(
                self.meta_dir, version + 1,
                self._stage(base, files, "delete", content=1),
            )
        return sum(n for _, _, n in files)

    def _position_deletes(self, condition) -> list[tuple[str, dict, int]]:
        """Position-delete files for the current rows matching
        ``condition``.  The (file_path, pos) identities come from the same
        executor-side scan the reader uses (_metadata.file_path /
        row_index), written spec-sorted by (file_path, pos)."""
        scan = self._scan()
        if not scan["data"]:
            return []
        cond = F.expr(condition) if isinstance(condition, str) else condition
        matches = (
            self.spark.read.parquet(*[p for p, _ in scan["data"]])
            .withColumn(
                "__msk_fp", self._norm_fp(F.col("_metadata.file_path"))
            )
            .withColumn("__msk_pos", F.col("_metadata.row_index"))
            .filter(cond)
            .select(
                F.col("__msk_fp").alias("file_path"),
                F.col("__msk_pos").alias("pos"),
            )
            .orderBy("file_path", "pos")
        )
        return self._write_files(matches, [])

    def delete_equality(self, keys: DataFrame) -> int:
        """Commit an EQUALITY-delete snapshot: current and PRIOR-sequence
        rows whose values null-safely match any row of ``keys`` (a
        DataFrame whose columns name the equality fields) are deleted.
        Returns the number of key rows written."""
        version, base = self._head()
        col_ids = {f["name"]: f["id"] for f in base["schemas"][0]["fields"]}
        missing = [c for c in keys.columns if c not in col_ids]
        if missing:
            raise ValueError(f"equality columns not in table schema: {missing}")
        files = self._write_files(keys.distinct(), [])
        if files:
            _commit_metadata(
                self.meta_dir, version + 1,
                self._stage(
                    base, files, "delete", content=2,
                    equality_ids=[col_ids[c] for c in keys.columns],
                ),
            )
        return sum(n for _, _, n in files)

    # -- maintenance -----------------------------------------------------------

    def compact(self, target_partitions: int | None = None) -> "IcebergNativeTable":
        """OPTIMIZE: materialize the CURRENT live rows (all position and
        equality deletes applied) into fresh data files under the table's
        own spec and commit a REPLACE snapshot whose manifest list holds
        ONLY the new manifest — delete files stop being consulted, small
        files merge, and prior snapshots stay time-travelable until
        expire_snapshots().  The row rewrite is one distributed Spark
        write; only manifest bookkeeping runs on the driver."""
        version, base = self._head()
        live = self.read()
        if target_partitions:
            live = live.repartition(target_partitions)
        files = self._write_files(live, _partition_fields(base))
        _commit_metadata(
            self.meta_dir, version + 1, self._stage(base, files, "replace")
        )
        return self

    def expire_snapshots(self, keep_last: int = 1) -> tuple[int, int]:
        """Drop all but the newest ``keep_last`` snapshots from the
        metadata and delete files no kept snapshot references (data files,
        delete files, manifests, manifest lists) — the expire_snapshots +
        remove_orphan_files maintenance pair.  Returns (snapshots_dropped,
        files_deleted).  Time travel to expired snapshots stops working,
        exactly as in Iceberg."""
        version, base = self._head()
        snaps = base["snapshots"]
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if len(snaps) <= keep_last:
            return (0, 0)
        kept = snaps[-keep_last:]
        if base["current-snapshot-id"] not in {
            s["snapshot-id"] for s in kept
        }:
            raise ValueError("expire would drop the current snapshot")
        referenced: set[str] = set()
        for snap in kept:
            mlist = self._local(snap["manifest-list"])
            referenced.add(os.path.abspath(mlist))
            _, manifests = read_container(mlist)
            for mf in manifests:
                mpath = self._local(mf["manifest_path"])
                referenced.add(os.path.abspath(mpath))
                _, entries = read_container(mpath)
                for e in entries:
                    referenced.add(
                        os.path.abspath(self._local(e["data_file"]["file_path"]))
                    )
        deleted = 0
        data_root = os.path.join(self.path, "data")
        for root, _dirs, fnames in os.walk(data_root):
            for f in fnames:
                fp = os.path.abspath(os.path.join(root, f))
                if f.endswith(".parquet") and fp not in referenced:
                    os.remove(fp)
                    deleted += 1
        for f in os.listdir(self.meta_dir):
            fp = os.path.abspath(os.path.join(self.meta_dir, f))
            if f.endswith(".avro") and fp not in referenced:
                os.remove(fp)
                deleted += 1
        _commit_metadata(
            self.meta_dir, version + 1,
            {**base, "snapshots": kept, "last-updated-ms": int(time.time() * 1000)},
        )
        return (len(snaps) - len(kept), deleted)


def _summaries_for(
    entries: list[dict], part_fields: list[tuple[str, str]]
) -> list[dict]:
    """field_summary per partition field (spec single-value binary bounds:
    UTF-8 for strings, little-endian for ints/longs)."""
    out = []
    for name, typ in part_fields:
        vals = [
            e["data_file"]["partition"].get(name)
            for e in entries
        ]
        non_null = [v for v in vals if v is not None]
        lo = min(non_null) if non_null else None
        hi = max(non_null) if non_null else None
        out.append(
            {
                "contains_null": any(v is None for v in vals),
                "contains_nan": False,
                "lower_bound": _bound_bytes(lo, typ),
                "upper_bound": _bound_bytes(hi, typ),
            }
        )
    return out


def _bound_bytes(v, typ: str) -> bytes | None:
    if v is None:
        return None
    if typ == "string":
        return v.encode("utf-8")
    if typ in ("int",):
        return int(v).to_bytes(4, "little", signed=True)
    if typ in ("long",):
        return int(v).to_bytes(8, "little", signed=True)
    raise NotImplementedError(f"bound serialization for {typ}")


def _summaries_match(
    summaries: list[dict], part_names: list[str], flt: dict
) -> bool:
    """True if every filtered field's value falls inside the manifest's
    [lower, upper] summary (or the summary is absent/unbounded)."""
    for i, name in enumerate(part_names):
        if name not in flt or i >= len(summaries):
            continue
        s = summaries[i]
        v = flt[name]
        lo_b, hi_b = s.get("lower_bound"), s.get("upper_bound")
        if lo_b is None and hi_b is None:
            continue
        lo = lo_b.decode("utf-8", "surrogateescape") if isinstance(v, str) and lo_b else lo_b
        hi = hi_b.decode("utf-8", "surrogateescape") if isinstance(v, str) and hi_b else hi_b
        if isinstance(v, int):
            lo = int.from_bytes(lo_b, "little", signed=True) if lo_b else None
            hi = int.from_bytes(hi_b, "little", signed=True) if hi_b else None
        if lo is not None and v < lo:
            return False
        if hi is not None and v > hi:
            return False
    return True


def _iceberg_to_spark(t: str) -> str:
    return {
        "long": "BIGINT",
        "int": "INT",
        "double": "DOUBLE",
        "float": "FLOAT",
        "string": "STRING",
        "boolean": "BOOLEAN",
        "date": "DATE",
        "timestamp": "TIMESTAMP",
    }.get(t, "STRING")
