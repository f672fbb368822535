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
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moosestack_spark.catalog.avro import read_container, write_container
from moosestack_spark.catalog.txlog import publish


def _commit_metadata(
    meta_dir: str, version: int, meta: dict, staging_salt: str | None = None
) -> None:
    """Publish ``v{version}.metadata.json`` put-if-absent, so a writer that
    lost the race for ``version`` raises FileExistsError instead of erasing
    the winner's commit, then point version-hint.text at it (replaced
    atomically).  A salted (staged) commit writes
    ``v{version}-{salt}.metadata.json`` and leaves the hint alone."""
    name = f"v{version}" if staging_salt is None else f"v{version}-{staging_salt}"
    publish(os.path.join(meta_dir, f"{name}.metadata.json"), json.dumps(meta, indent=1))
    if staging_salt is None:
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
    "long": ("long", "long"),
    "bigint": ("long", "long"),
    "int": ("int", "int"),
    "integer": ("int", "int"),
    "double": ("double", "double"),
    "float": ("float", "float"),
    "string": ("string", "string"),
    "boolean": ("boolean", "boolean"),
    "date": ("date", "int"),
    "timestamp": ("timestamp", "long"),
    "timestamp_ntz": ("timestamp", "long"),
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

    # identity partitioning by a high-cardinality column would make the
    # writer's per-partition loop driver-unbounded — refuse loudly (same
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
            v = int(open(hint).read().strip())
            return os.path.join(self.meta_dir, f"v{v}.metadata.json")
        versions = [
            int(m.group(1))
            for f in os.listdir(self.meta_dir)
            if (m := re.match(r"^v(\d+)\.metadata\.json$", f))
        ]
        if not versions:
            raise FileNotFoundError(f"no metadata json under {self.meta_dir}")
        return os.path.join(self.meta_dir, f"v{max(versions)}.metadata.json")

    def metadata(self) -> dict:
        return json.load(open(self._current_metadata_path()))

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
        spec = {s["spec-id"]: s for s in meta["partition-specs"]}[
            meta["default-spec-id"]
        ]
        part_names = [f["name"] for f in spec["fields"]]
        # resolve the caller's filter onto partition-FIELD space: identity
        # fields match by field/source name; bucket[N] fields accept a
        # filter on the SOURCE column and hash it to the bucket value
        src_names = {
            f["id"]: f["name"] for f in meta["schemas"][0]["fields"]
        }
        if partition_filter:
            resolved: dict = {}
            unresolved = dict(partition_filter)
            for f in spec["fields"]:
                tf = f["transform"]
                src = src_names.get(f["source-id"])
                if f["name"] in unresolved:
                    resolved[f["name"]] = unresolved.pop(f["name"])
                elif src in unresolved:
                    val = unresolved.pop(src)
                    if tf == "identity":
                        resolved[f["name"]] = val
                    else:
                        resolved[f["name"]] = iceberg_transform(tf, val)
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

    # -- write path ----------------------------------------------------------

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
        staging_salt: str | None = None,
    ) -> "IcebergNativeTable":
        """Write ``df`` as an Iceberg v2 table (new snapshot per call).
        mode='overwrite' starts v1; mode='append' adds a snapshot whose
        manifest list references all prior manifests plus the new one.
        Data files are written by Spark executors; only the (bounded,
        partition-count-sized) manifest bookkeeping runs on the driver.

        ``bucket_by=(col, N)`` partitions by the spec's bucket[N]
        transform (murmur3 of the long's little-endian bytes, computed
        JVM-side by iceberg_bucket_sql) — the high-cardinality answer the
        identity PARTITION_CAP refusal points at: at most N partitions
        regardless of key cardinality.

        ``spec_by=[(transform, source_col), ...]`` writes a MULTI-FIELD
        partition spec — the shape real tables use, e.g.
        ``[("day", "ts"), ("bucket[4]", "key")]`` — with 'identity'
        accepted as a transform name.  The PARTITION_CAP applies to the
        count of distinct transformed COMBINATIONS.

        ``cluster_by=(x, y)`` Hilbert-clusters an UNPARTITIONED write
        (the Delta OPTIMIZE ZORDER / Iceberg rewrite_data_files
        sort-order shape): rows are range-partitioned + sorted by the
        Hilbert distance of (x, y) into ``cluster_files`` files, so each
        file's parquet min/max stats cover a small rectangle of BOTH
        columns and Spark's scan-side row-group pruning becomes selective
        on either — results are identical, only the layout changes."""
        spark = df.sparkSession
        table = cls(spark, path)
        data_dir = os.path.join(path, "data")
        os.makedirs(table.meta_dir, exist_ok=True)

        prev_meta, version, seq = None, 1, 1
        if mode == "append":
            prev_meta, version, seq = table._next_version_seq()
        elif mode != "overwrite":
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")

        # staging_salt: CONCURRENT stagers (REST-catalog optimistic
        # writers) must not collide on file names before the commit
        # protocol picks a winner — real Iceberg writers embed a unique
        # write UUID in every file name for exactly this reason.  The
        # salt feeds snapshot id, manifest names, the data batch dir and
        # the staged metadata filename; it never updates version-hint, so
        # directory-catalog readers cannot observe a half-staged write.
        tag = f"{version}" if staging_salt is None else f"{version}#{staging_salt}"
        snap_id = int(uuid.uuid5(uuid.NAMESPACE_URL, f"{path}#{tag}").int % (1 << 62))
        commit_uuid = str(uuid.uuid5(uuid.NAMESPACE_URL, f"{path}#commit{tag}"))
        batch_dir = os.path.join(
            data_dir,
            f"b{version}" if staging_salt is None else f"b{version}_{staging_salt}",
        )

        if sum(
            x is not None for x in (partition_by, bucket_by, transform_by, spec_by)
        ) > 1:
            raise ValueError(
                "pass exactly one of partition_by, bucket_by, transform_by, "
                "spec_by"
            )
        if cluster_by and (partition_by or bucket_by or transform_by or spec_by):
            raise ValueError(
                "cluster_by applies to unpartitioned writes (cluster "
                "WITHIN partitions is not implemented — partition pruning "
                "already covers the partitioned dims)"
            )
        # every legacy single-field knob is sugar for a 1-entry spec_by
        if bucket_by:
            spec_by = [(f"bucket[{bucket_by[1]}]", bucket_by[0])]
        elif transform_by:
            spec_by = [transform_by]
        elif partition_by:
            spec_by = [("identity", partition_by)]
        # ---- data files (executor-side parquet write) ----
        part_fields: list[tuple[str, str]] = []
        spec_fields_meta: list[tuple[str, str, str]] = []  # (fname, tf, src)
        entries: list[dict] = []
        if spec_by:
            dts = dict(df.dtypes)
            bdf = df
            fnames: list[str] = []
            for j, (tf, bcol) in enumerate(spec_by):
                dt = dts.get(bcol)
                if dt is None:
                    raise ValueError(f"partition source column {bcol!r} not in df")
                if tf == "identity":
                    fname, avro_t = bcol, _SPARK_TO_ICEBERG[dt][1]
                    bdf = bdf.withColumn(f"__ib{j}", F.col(bcol))
                else:
                    if tf.startswith(("bucket[", "truncate[")) and dt not in (
                        "bigint", "int", "smallint", "tinyint",
                    ):
                        raise NotImplementedError(
                            f"{tf} over {dt} column {bcol!r}: this writer "
                            "hashes/truncates INTEGER keys only (string/"
                            "decimal bucket hashing is not implemented — a "
                            "silent CAST would null out the key)"
                        )
                    if tf in ("year", "month", "day", "hour") and dt not in (
                        "date", "timestamp", "timestamp_ntz",
                    ):
                        raise NotImplementedError(
                            f"{tf} over {dt} column {bcol!r} (date/timestamp only)"
                        )
                    suffix = re.sub(r"\W+", "", tf.split("[")[0])
                    fname = f"{bcol}_{suffix}"
                    avro_t = (
                        "int"
                        if tf.startswith(("bucket", "year", "month", "day"))
                        else "long"
                    )
                    bdf = bdf.withColumn(
                        f"__ib{j}", F.expr(iceberg_transform_sql(tf, bcol))
                    )
                part_fields.append((fname, avro_t))
                spec_fields_meta.append((fname, tf, bcol))
                fnames.append(fname)
            ibcols = [f"__ib{j}" for j in range(len(spec_by))]
            n_combos = bdf.select(*ibcols).distinct().count()
            if n_combos > cls.PARTITION_CAP:
                raise ValueError(
                    f"{n_combos} distinct partition values "
                    f"({len(spec_by)}-field combinations; cap "
                    f"{cls.PARTITION_CAP}): partitioning by a "
                    "high-cardinality key"
                )
            # ONE data pass: Hive-layout partitionBy on the SYNTHETIC
            # transform columns.  They are copies, so the source columns
            # stay in the data files as Iceberg requires — partitionBy
            # drops only the __ib* helpers.  The old spelling ran one full
            # filter+write job PER partition value (P scans of the input —
            # unusable at scale and the dominant cost of the bucket gate);
            # this is a single job regardless of P.  Dirs are then renamed
            # from __ibJ=v to <field>=v for the spec-shaped layout.
            bdf.write.partitionBy(*ibcols).mode("overwrite").parquet(
                batch_dir
            )
            import urllib.parse as _up

            def _parse_part_val(s: str, avro_t: str):
                if s == "__HIVE_DEFAULT_PARTITION__":
                    return None
                s = _up.unquote(s)
                if avro_t in ("int", "long"):
                    return int(s)
                if avro_t in ("double", "float"):
                    return float(s)
                if avro_t == "boolean":
                    return s == "true"
                return s

            levels: list[list[str]] = [[batch_dir]]
            for j in range(len(ibcols)):
                nxt: list[str] = []
                for parent in levels[-1]:
                    for child in sorted(os.listdir(parent)):
                        if not child.startswith(f"__ib{j}="):
                            continue
                        new_name = f"{fnames[j]}={child.split('=', 1)[1]}"
                        os.rename(
                            os.path.join(parent, child),
                            os.path.join(parent, new_name),
                        )
                        nxt.append(os.path.join(parent, new_name))
                levels.append(nxt)
            for leaf in levels[-1]:
                rel = os.path.relpath(leaf, batch_dir).split(os.sep)
                part_dict = {
                    part_fields[j][0]: _parse_part_val(
                        p.split("=", 1)[1], part_fields[j][1]
                    )
                    for j, p in enumerate(rel)
                }
                entries.extend(
                    table._entries_for_dir(leaf, part_dict, snap_id, seq)
                )
        else:
            out_df = df
            if cluster_by:
                from moosestack_spark.ops.layout import cluster_by_hilbert

                cx, cy = cluster_by
                out_df = cluster_by_hilbert(
                    df, cx, cy,
                    num_partitions=cluster_files,
                    out_col="__ice_hilbert",
                ).drop("__ice_hilbert")
            out_df.write.mode("overwrite").parquet(batch_dir)
            entries = table._entries_for_dir(batch_dir, {}, snap_id, seq)

        # ---- manifest ----
        manifest_path = os.path.join(table.meta_dir, f"{commit_uuid}-m0.avro")
        write_container(manifest_path, _manifest_schema(part_fields), entries)
        n_rows = sum(e["data_file"]["record_count"] for e in entries)
        new_manifest = {
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": n_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": _summaries_for(entries, part_fields) if part_fields else None,
        }
        manifests = [new_manifest]
        if prev_meta is not None:
            prev_snap = {
                s["snapshot-id"]: s for s in prev_meta["snapshots"]
            }[prev_meta["current-snapshot-id"]]
            _, prev_manifests = read_container(
                table._local(prev_snap["manifest-list"])
            )
            manifests = prev_manifests + [new_manifest]

        mlist_path = os.path.join(
            table.meta_dir, f"snap-{snap_id}-1-{commit_uuid}.avro"
        )
        write_container(mlist_path, _MANIFEST_LIST_SCHEMA, manifests)

        # ---- metadata json ----
        schema_fields = []
        for i, (name, dt) in enumerate(df.dtypes, start=1):
            ice_t = _SPARK_TO_ICEBERG.get(dt)
            if ice_t is None:
                raise NotImplementedError(
                    f"column {name!r}: Spark type {dt} has no Iceberg "
                    "mapping in the native writer"
                )
            schema_fields.append(
                {"id": i, "name": name, "required": False, "type": ice_t[0]}
            )
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": version,  # deterministic (no wall clock in tests)
            "manifest-list": mlist_path,
            "summary": {"operation": "append"},
            "schema-id": 0,
        }
        prev_snapshots = prev_meta["snapshots"] if prev_meta else []
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, path)),
            "location": path,
            "last-sequence-number": seq,
            "last-updated-ms": version,
            "last-column-id": len(schema_fields),
            "current-schema-id": 0,
            "schemas": [
                {"type": "struct", "schema-id": 0, "fields": schema_fields}
            ],
            "default-spec-id": 0,
            "partition-specs": [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            "name": n,
                            "transform": tf,
                            "source-id": [
                                f["id"]
                                for f in schema_fields
                                if f["name"] == src
                            ][0],
                            "field-id": 1000 + i,
                        }
                        for i, (n, tf, src) in enumerate(spec_fields_meta)
                    ],
                }
            ],
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "current-snapshot-id": snap_id,
            "snapshots": prev_snapshots + [snapshot],
            "properties": {},
        }
        _commit_metadata(table.meta_dir, version, meta, staging_salt)
        return table

    def _entries_for_dir(
        self, pdir: str, partition: dict, snap_id: int, seq: int
    ) -> list[dict]:
        entries = []
        for f in sorted(os.listdir(pdir)):
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(pdir, f)
            n = self.spark.read.parquet(fp).count()
            entries.append(
                {
                    "status": 1,  # ADDED
                    "snapshot_id": snap_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 0,
                        "file_path": fp,
                        "file_format": "PARQUET",
                        "partition": partition,
                        "record_count": n,
                        "file_size_in_bytes": os.path.getsize(fp),
                        "equality_ids": None,
                    },
                }
            )
        return entries

    # -- row-level deletes (writer) -------------------------------------------

    def _next_version_seq(self) -> tuple[dict, int, int]:
        prev_meta = self.metadata()
        version = (
            int(
                re.match(
                    r"^v(\d+)\.metadata\.json$",
                    os.path.basename(self._current_metadata_path()),
                ).group(1)
            )
            + 1
        )
        return prev_meta, version, prev_meta["last-sequence-number"] + 1

    def _part_avro_fields(self, meta: dict) -> list[tuple[str, str]]:
        spec = {s["spec-id"]: s for s in meta["partition-specs"]}[
            meta["default-spec-id"]
        ]
        types = {f["id"]: f["type"] for f in meta["schemas"][0]["fields"]}
        ice_to_avro = {
            "long": "long", "int": "int", "double": "double",
            "float": "float", "string": "string", "boolean": "boolean",
            "date": "int", "timestamp": "long",
        }
        def avro_t(f: dict) -> str:
            tf = f["transform"]
            # mirror the writer's rule exactly, so appended manifests use
            # the same partition-value avro types as the original ones
            if tf.startswith(("bucket[", "year", "month", "day")):
                return "int"
            if tf.startswith(("truncate[", "hour")):
                return "long"
            return ice_to_avro[types[f["source-id"]]]

        return [(f["name"], avro_t(f)) for f in spec["fields"]]

    def _commit_delete_snapshot(
        self,
        delete_files: list[tuple[str, int]],
        content: int,
        equality_ids: list[int] | None,
        operation: str,
        staging_salt: str | None = None,
    ) -> None:
        """Append a snapshot whose new manifest (content=1 in the manifest
        list) carries the given delete files.  Prior manifests are reused
        untouched, so existing data files keep their sequence numbers.

        staging_salt: same contract as the append writer's (line ~645) —
        a salted commit writes `v{version}-{salt}.metadata.json` and does
        NOT touch version-hint.text, so a REST-catalog deleter whose
        commit is ultimately rejected stays invisible to directory-catalog
        readers of the same path."""
        prev_meta, version, seq = self._next_version_seq()
        tag = f"{version}" if staging_salt is None else f"{version}#{staging_salt}"
        snap_id = int(
            uuid.uuid5(uuid.NAMESPACE_URL, f"{self.path}#{tag}").int % (1 << 62)
        )
        commit_uuid = str(
            uuid.uuid5(uuid.NAMESPACE_URL, f"{self.path}#commit{tag}")
        )
        part_fields = self._part_avro_fields(prev_meta)
        entries = [
            {
                "status": 1,
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": content,
                    "file_path": fp,
                    "file_format": "PARQUET",
                    # delete files are not partition-scoped here; the
                    # reader never prunes delete manifests, so null
                    # partition values stay correct (see _scan docstring)
                    "partition": {n: None for n, _ in part_fields},
                    "record_count": n_rows,
                    "file_size_in_bytes": os.path.getsize(fp),
                    "equality_ids": equality_ids,
                },
            }
            for fp, n_rows in delete_files
        ]
        manifest_path = os.path.join(self.meta_dir, f"{commit_uuid}-m0.avro")
        write_container(manifest_path, _manifest_schema(part_fields), entries)
        new_manifest = {
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": 0,
            "content": 1,  # deletes
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": 0,
            "existing_rows_count": 0,
            "deleted_rows_count": sum(n for _, n in delete_files),
            "partitions": None,
        }
        prev_snap = {s["snapshot-id"]: s for s in prev_meta["snapshots"]}[
            prev_meta["current-snapshot-id"]
        ]
        _, prev_manifests = read_container(self._local(prev_snap["manifest-list"]))
        mlist_path = os.path.join(
            self.meta_dir, f"snap-{snap_id}-1-{commit_uuid}.avro"
        )
        write_container(
            mlist_path, _MANIFEST_LIST_SCHEMA, prev_manifests + [new_manifest]
        )
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": version,
            "manifest-list": mlist_path,
            "summary": {"operation": operation},
            "schema-id": 0,
        }
        meta = dict(prev_meta)
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = version
        meta["current-snapshot-id"] = snap_id
        meta["snapshots"] = prev_meta["snapshots"] + [snapshot]
        _commit_metadata(self.meta_dir, version, meta, staging_salt)

    def delete_where(self, condition, staging_salt: str | None = None) -> int:
        """Commit a POSITION-delete snapshot removing current rows matching
        ``condition`` (SQL string or Column).  The (file_path, pos)
        identities come from the same executor-side scan the reader uses
        (_metadata.file_path / row_index), written spec-sorted by
        (file_path, pos).  Returns the number of deleted positions."""
        scan = self._scan()
        if not scan["data"]:
            return 0
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
        _, version, _ = self._next_version_seq()
        ddir = (
            f"b{version}_pos_deletes"
            if staging_salt is None
            else f"b{version}_{staging_salt}_pos_deletes"
        )
        out_dir = os.path.join(self.path, "data", ddir)
        matches.write.mode("overwrite").parquet(out_dir)
        files = [
            (fp, self.spark.read.parquet(fp).count())
            for f in sorted(os.listdir(out_dir))
            if f.endswith(".parquet") and (fp := os.path.join(out_dir, f))
        ]
        n = sum(c for _, c in files)
        if n == 0:
            return 0  # nothing matched: no snapshot to commit
        self._commit_delete_snapshot(
            [f for f in files if f[1] > 0], 1, None, "delete",
            staging_salt=staging_salt,
        )
        return n

    def delete_equality(self, keys: DataFrame) -> int:
        """Commit an EQUALITY-delete snapshot: current and PRIOR-sequence
        rows whose values null-safely match any row of ``keys`` (a
        DataFrame whose columns name the equality fields) are deleted.
        Returns the number of key rows written."""
        meta = self.metadata()
        col_ids = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
        missing = [c for c in keys.columns if c not in col_ids]
        if missing:
            raise ValueError(f"equality columns not in table schema: {missing}")
        _, version, _ = self._next_version_seq()
        out_dir = os.path.join(self.path, "data", f"b{version}_eq_deletes")
        keys.distinct().write.mode("overwrite").parquet(out_dir)
        files = [
            (fp, self.spark.read.parquet(fp).count())
            for f in sorted(os.listdir(out_dir))
            if f.endswith(".parquet") and (fp := os.path.join(out_dir, f))
        ]
        n = sum(c for _, c in files)
        if n == 0:
            return 0
        self._commit_delete_snapshot(
            [f for f in files if f[1] > 0],
            2,
            [col_ids[c] for c in keys.columns],
            "delete",
        )
        return n

    # -- maintenance -----------------------------------------------------------

    def compact(self, target_partitions: int | None = None) -> "IcebergNativeTable":
        """OPTIMIZE: materialize the CURRENT live rows (all position and
        equality deletes applied) into fresh data files and commit a
        REPLACE snapshot whose manifest list holds ONLY the new manifest —
        delete files stop being consulted, small files merge, and prior
        snapshots stay time-travelable until expire_snapshots().  The row
        rewrite is a distributed Spark write; only manifest bookkeeping
        runs on the driver."""
        prev_meta, version, seq = self._next_version_seq()
        spec = {s["spec-id"]: s for s in prev_meta["partition-specs"]}[
            prev_meta["default-spec-id"]
        ]
        part_names = [f["name"] for f in spec["fields"]]
        live = self.read()
        if target_partitions:
            live = live.repartition(target_partitions)
        batch_dir = os.path.join(self.path, "data", f"b{version}_compact")
        part_fields = self._part_avro_fields(prev_meta)
        entries: list[dict] = []
        snap_id = int(
            uuid.uuid5(uuid.NAMESPACE_URL, f"{self.path}#{version}").int % (1 << 62)
        )
        if part_names and spec["fields"][0]["transform"] != "identity":
            # transformed partitioning: the partition value is not a data
            # column — recompute it from the source column with the same
            # JVM expression the writer used
            fld = spec["fields"][0]
            src = {
                f["id"]: f["name"] for f in prev_meta["schemas"][0]["fields"]
            }[fld["source-id"]]
            bdf = live.withColumn(
                "__ib", F.expr(iceberg_transform_sql(fld["transform"], src))
            )
            for bv in sorted(
                r[0] for r in bdf.select("__ib").distinct().collect()
            ):
                pdir = os.path.join(batch_dir, f"{part_names[0]}={bv}")
                bdf.filter(F.col("__ib") == bv).drop("__ib").write.mode(
                    "overwrite"
                ).parquet(pdir)
                entries.extend(
                    self._entries_for_dir(
                        pdir, {part_names[0]: int(bv)}, snap_id, seq
                    )
                )
        elif part_names:
            values = [
                r[0] for r in live.select(part_names[0]).distinct().collect()
            ]
            if len(values) > self.PARTITION_CAP:
                raise ValueError(
                    f"{len(values)} distinct partition values (cap "
                    f"{self.PARTITION_CAP})"
                )
            for v in sorted(values, key=str):
                pdir = os.path.join(batch_dir, f"{part_names[0]}={v}")
                live.filter(F.col(part_names[0]) == F.lit(v)).write.mode(
                    "overwrite"
                ).parquet(pdir)
                entries.extend(
                    self._entries_for_dir(pdir, {part_names[0]: v}, snap_id, seq)
                )
        else:
            live.write.mode("overwrite").parquet(batch_dir)
            entries = self._entries_for_dir(batch_dir, {}, snap_id, seq)
        commit_uuid = str(
            uuid.uuid5(uuid.NAMESPACE_URL, f"{self.path}#commit{version}")
        )
        manifest_path = os.path.join(self.meta_dir, f"{commit_uuid}-m0.avro")
        write_container(manifest_path, _manifest_schema(part_fields), entries)
        n_rows = sum(e["data_file"]["record_count"] for e in entries)
        new_manifest = {
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": n_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": _summaries_for(entries, part_fields)
            if part_fields
            else None,
        }
        mlist_path = os.path.join(
            self.meta_dir, f"snap-{snap_id}-1-{commit_uuid}.avro"
        )
        write_container(mlist_path, _MANIFEST_LIST_SCHEMA, [new_manifest])
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": version,
            "manifest-list": mlist_path,
            "summary": {"operation": "replace"},
            "schema-id": 0,
        }
        meta = dict(prev_meta)
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = version
        meta["current-snapshot-id"] = snap_id
        meta["snapshots"] = prev_meta["snapshots"] + [snapshot]
        _commit_metadata(self.meta_dir, version, meta)
        return self

    def expire_snapshots(self, keep_last: int = 1) -> tuple[int, int]:
        """Drop all but the newest ``keep_last`` snapshots from the
        metadata and delete files no kept snapshot references (data files,
        delete files, manifests, manifest lists) — the expire_snapshots +
        remove_orphan_files maintenance pair.  Returns (snapshots_dropped,
        files_deleted).  Time travel to expired snapshots stops working,
        exactly as in Iceberg."""
        prev_meta, version, _ = self._next_version_seq()
        snaps = prev_meta["snapshots"]
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if len(snaps) <= keep_last:
            return (0, 0)
        kept = snaps[-keep_last:]
        if prev_meta["current-snapshot-id"] not in {
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
        meta = dict(prev_meta)
        meta["snapshots"] = kept
        meta["last-updated-ms"] = version
        _commit_metadata(self.meta_dir, version, meta)
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
