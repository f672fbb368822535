"""Native Delta Lake table reader/writer — pure python transaction-log
replay, Spark parquet scan, no delta-spark jars.

Companion to catalog/iceberg_native.py for the other ubiquitous lake
format.  Implements the public Delta transaction protocol
(github.com/delta-io/delta PROTOCOL.md) subset a reader needs:

- ``_delta_log/<version>.json`` commits: newline-delimited actions
  (protocol / metaData / add / remove / commitInfo);
- snapshot construction by replaying adds minus removes up to a version
  (time travel = stop early);
- ``_last_checkpoint`` + ``<version>.checkpoint.parquet`` (read and
  written with pyarrow by the shared log, catalog/txlog.py, which also
  checkpoints every 10th version and publishes every commit
  put-if-absent);
- partition pruning on ``add.partitionValues`` before any file is opened;
- data scan via ``spark.read.option("basePath", ...).parquet(<files>)`` —
  Delta data files do NOT carry partition columns in-file (Hive-style
  dirs), and basePath reconstructs them.

DELETION VECTORS (reader protocol 3) are supported: add actions carrying a
``deletionVector`` descriptor (storageType "u" relative-UUID / "p" absolute
path / "i" inline-z85) are decoded EXECUTOR-SIDE — the descriptor list
(one row per file, bounded by file count) goes through a mapInPandas
kernel that reads the DV blob ([size u32 BE][RoaringBitmapArray][CRC32])
and emits (file, pos) pairs; the data scan then drops them with one LEFT
ANTI join on parquet ``_metadata.file_path``/``row_index``.  The writer's
``delete_where`` commits protocol-shaped DV adds (remove + re-add with
descriptor, protocol upgraded to 3/7 with the deletionVectors feature).
Codec: catalog/roaring.py (public RoaringFormatSpec + PROTOCOL.md).

COLUMN MAPPING (reader protocol 2 / the columnMapping feature) is
supported: data files carry physical column names
(delta.columnMapping.physicalName in the schemaString field metadata);
the reader selects them back to logical names after deletes apply, maps
partition filters and casts through the physical names, and refuses
unknown mapping modes.

Honest boundaries (raise, never silently wrong): generated columns,
reader protocol > 3 or reader features beyond
deletionVectors/columnMapping (e.g. v2Checkpoint).

The writer emits protocol-shaped commits so tables can be planted,
appended, and time-traveled in tests/gates.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moosestack_spark.catalog.txlog import TxLog, partition_values


def _dv_file(table_path: str, storage: str, dv: str) -> str:
    """The file behind a file-backed deletionVector descriptor: an absolute
    path ("p") or a relative UUID ("u", optional prefix directory + 20-char
    z85 UUID)."""
    from moosestack_spark.catalog.roaring import z85_decode

    if storage == "p":
        return dv
    if storage != "u":
        raise NotImplementedError(f"DV storageType {storage!r}")
    u = uuid.UUID(bytes=z85_decode(dv[-20:]))
    return os.path.join(table_path, dv[:-20], f"deletion_vector_{u}.bin")


def _dv_positions(
    table_path: str, storage: str, dv: str, off: int, size: int
) -> list[int]:
    """Decode one deletionVector descriptor to its deleted row indices:
    inline ("i", unframed + padded z85, ``size`` restores the exact byte
    length) or file-backed (_dv_file)."""
    from moosestack_spark.catalog.roaring import (
        bitmap_array_decode,
        dv_read_blob,
        z85_decode,
    )

    if storage == "i":
        return bitmap_array_decode(z85_decode(dv)[:size])
    with open(_dv_file(table_path, storage, dv), "rb") as fh:
        return dv_read_blob(fh.read(), off)


def _physical_names(schema: dict) -> dict[str, str]:
    """Logical -> physical column names (identity without column mapping)."""
    return {
        f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in schema["fields"]
    }


def _spark_type_name(dt: str) -> str:
    return {
        "bigint": "long",
        "int": "integer",
        "double": "double",
        "float": "float",
        "string": "string",
        "boolean": "boolean",
        "date": "date",
        "timestamp": "timestamp",
    }.get(dt, dt)


class DeltaNativeTable:
    PARTITION_CAP = 10_000  # same discipline as the Iceberg writer

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self.log = TxLog(os.path.join(path, "_delta_log"))
        self.log_dir = self.log.log_dir

    # -- log inspection ------------------------------------------------------

    def versions(self) -> list[int]:
        return self.log.versions()

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no Delta log under {self.log_dir}")
        return vs[-1]

    def _actions(self, version: int) -> list[dict]:
        return self.log.actions(version)

    # -- snapshot construction ----------------------------------------------

    def snapshot(self, version: int | None = None) -> tuple[dict, dict[str, dict]]:
        """-> (metaData action, {relative path: add action}) at ``version``
        (default latest), replayed by the shared log from the newest
        checkpoint at or below it."""
        snap = self.log.snapshot(version)
        p = snap.protocol or {}
        rv = p.get("minReaderVersion", 1)
        feats = set(p.get("readerFeatures") or [])
        # rv 1: base.  rv 2: column mapping (supported — the reader maps
        # physical->logical names).  rv 3 + explicit feature list limited
        # to deletionVectors/columnMapping: supported.  Anything else (rv 3
        # without a feature list, unknown features) refuses.
        if rv not in (1, 2) and not (
            rv == 3 and feats and feats <= {"deletionVectors", "columnMapping"}
        ):
            raise NotImplementedError(
                f"Delta reader protocol {rv} with features {sorted(feats)} "
                "unsupported (deletionVectors and columnMapping only)"
            )
        if snap.meta is None:
            raise ValueError("Delta log has no metaData action")
        return snap.meta, snap.files

    # -- read ----------------------------------------------------------------

    def read(
        self,
        version: int | None = None,
        partition_filter: dict | None = None,
    ) -> DataFrame:
        meta, files = self.snapshot(version)
        part_cols = meta.get("partitionColumns", [])
        schema = json.loads(meta["schemaString"])
        phys_of = _physical_names(schema)
        for k in partition_filter or {}:
            if k not in part_cols:
                raise ValueError(
                    f"{k!r} is not a partition column (have {part_cols})"
                )
        chosen = []
        dv_specs = []  # (abs data file, storageType, pathOrInlineDv, offset)
        for rel, add in files.items():
            pv = add.get("partitionValues", {})
            if partition_filter and any(
                # partitionValues keys are PHYSICAL names under mapping
                pv.get(phys_of.get(k, k)) != str(v)
                for k, v in partition_filter.items()
            ):
                continue  # pruned before the file is ever opened
            abs_path = os.path.join(self.path, rel)
            chosen.append(abs_path)
            dv = add.get("deletionVector")
            if dv:
                dv_specs.append(
                    (
                        abs_path,
                        dv["storageType"],
                        dv["pathOrInlineDv"],
                        int(dv.get("offset", 0) or 0),
                        int(dv["sizeInBytes"]),
                        int(dv.get("cardinality", 0)),
                    )
                )
        if not chosen:
            cols = ", ".join(
                f"CAST(NULL AS {_delta_to_sql(f['type'])}) AS {f['name']}"
                for f in schema["fields"]
            )
            return self.spark.sql(f"SELECT {cols}").limit(0)
        out = self.spark.read.option("basePath", self.path).parquet(*chosen)
        # Spark's partition-dir discovery type-infers values (a "2" dir
        # becomes INT); Delta's schemaString is authoritative — cast the
        # partition columns back to their declared types
        declared = {f["name"]: _delta_to_sql(f["type"]) for f in schema["fields"]}
        for c in part_cols:
            pc = phys_of.get(c, c)
            if c in declared and pc in out.columns:
                out = out.withColumn(pc, F.col(pc).cast(declared[c]))
        if dv_specs:
            out = self._apply_deletion_vectors(out, dv_specs)
        # COLUMN MAPPING (protocol 2 / the columnMapping reader feature):
        # data files carry PHYSICAL column names; each schema field's
        # metadata gives delta.columnMapping.physicalName — select the
        # physical columns back to their logical names (deletes were
        # applied first: the DV path touches only _metadata, never names)
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode"
        )
        if mode in ("name", "id"):
            sel = []
            for f in schema["fields"]:
                phys = phys_of[f["name"]]
                if phys not in out.columns:
                    raise ValueError(
                        f"mapped physical column {phys!r} (logical "
                        f"{f['name']!r}) missing from the data files"
                    )
                sel.append(F.col(phys).alias(f["name"]))
            out = out.select(*sel)
        elif mode is not None:
            raise NotImplementedError(f"columnMapping mode {mode!r}")
        return out

    def _apply_deletion_vectors(self, df: DataFrame, dv_specs) -> DataFrame:
        """Drop rows claimed by deletion vectors.  The descriptor list is
        file-count-bounded; blob decode runs executor-side in an Arrow
        kernel (each task opens its DV blob from shared storage), so the
        driver never touches cardinality-scale data."""
        import pandas as pd

        spark = self.spark
        table_path = self.path
        cols = df.columns
        spec_df = spark.createDataFrame(
            dv_specs,
            "file string, storage string, dv string, off long, size long, "
            "card long",
        ).repartition(max(1, min(len(dv_specs), 32)))

        def decode(batches):
            for pdf in batches:
                for file, storage, dv, off, size, _card in pdf.itertuples(
                    index=False
                ):
                    positions = _dv_positions(
                        table_path, storage, dv, int(off), int(size)
                    )
                    if positions:
                        yield pd.DataFrame(
                            {"__dv_fp": [file] * len(positions),
                             "__dv_pos": positions}
                        )

        deleted = spec_df.mapInPandas(decode, "__dv_fp string, __dv_pos long")
        # the kernel output has no stats, so Catalyst would sort-merge; the
        # descriptors carry the EXACT total cardinality — broadcast when it
        # is provably small, otherwise leave the strategy to Catalyst/AQE
        # (a multi-hundred-MB delete side should shuffle, not broadcast)
        if sum(s[5] for s in dv_specs) <= 2_000_000:
            deleted = F.broadcast(deleted)
        out = df.withColumn(
            "__fp",
            F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", ""),
        ).withColumn("__pos", F.col("_metadata.row_index"))
        out = out.join(
            deleted,
            (out["__fp"] == deleted["__dv_fp"])
            & (out["__pos"] == deleted["__dv_pos"]),
            "left_anti",
        )
        return out.select(*cols)

    # -- write ---------------------------------------------------------------

    @classmethod
    def write(
        cls,
        df: DataFrame,
        path: str,
        partition_by: str | None = None,
        mode: str = "overwrite",
        cluster_by: tuple[str, str] | None = None,
        cluster_files: int = 8,
    ) -> "DeltaNativeTable":
        """Commit ``df`` as a new Delta version.  overwrite on an existing
        table emits remove actions for every live file first (the protocol
        shape of INSERT OVERWRITE); append only adds.  ``cluster_by=(x,
        y)`` Hilbert-clusters an unpartitioned write into
        ``cluster_files`` stat-tight files — the OPTIMIZE ZORDER layout
        shape, same semantics as IcebergNativeTable.write(cluster_by=...)."""
        if cluster_by and partition_by:
            raise ValueError(
                "cluster_by applies to unpartitioned writes (same boundary "
                "as IcebergNativeTable.write)"
            )
        spark = df.sparkSession
        table = cls(spark, path)
        existing = table.versions()
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")

        actions: list[dict] = []
        if not existing:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        removes: list[dict] = []
        if mode == "overwrite" and existing:
            _, live = table.snapshot()
            removes = [
                {"remove": {"path": rel, "dataChange": True}} for rel in live
            ]

        schema_fields = [
            {
                "name": n,
                "type": _spark_type_name(dt),
                "nullable": True,
                "metadata": {},
            }
            for n, dt in df.dtypes
        ]
        meta_action = {
            "metaData": {
                "id": f"native-{os.path.basename(path)}",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": schema_fields}
                ),
                "partitionColumns": [partition_by] if partition_by else [],
                "configuration": {},
            }
        }

        if cluster_by:
            from moosestack_spark.ops.layout import cluster_by_hilbert

            cx, cy = cluster_by
            df = cluster_by_hilbert(
                df, cx, cy,
                num_partitions=cluster_files,
                out_col="__delta_hilbert",
            ).drop("__delta_hilbert")
        adds = cls._write_files(df, path, partition_by)

        actions.append(meta_action)
        actions.extend(removes)
        actions.extend(adds)
        actions.append(
            {
                "commitInfo": {
                    "operation": "WRITE",
                    "operationParameters": {"mode": mode},
                }
            }
        )
        table.log.commit(actions)
        return table

    @classmethod
    def _write_files(
        cls, df: DataFrame, path: str, partition_by: str | None
    ) -> list[dict]:
        """Write ``df`` as new data files under ``path`` and return their
        add actions.  One data pass: Hive partitionBy drops the partition
        column from the files — exactly Delta's physical contract — then
        each partition dir moves into the table's <col>=<v>/<batch> layout
        the reader's basePath discovery expects.  NULL partition rows land
        in the Hive default dir and keep a null partitionValue."""
        batch = f"b{uuid.uuid4().hex[:16]}"
        if not partition_by:
            df.write.parquet(os.path.join(path, batch))
            dirs = [batch]
        else:
            n_vals = df.select(partition_by).distinct().count()
            if n_vals > cls.PARTITION_CAP:
                raise ValueError(
                    f"{n_vals} distinct partition values (cap "
                    f"{cls.PARTITION_CAP})"
                )
            tmp_dir = os.path.join(path, f"_tmp_{batch}")
            df.write.partitionBy(partition_by).parquet(tmp_dir)
            dirs = []
            for child in sorted(os.listdir(tmp_dir)):
                if child.startswith(f"{partition_by}="):
                    os.makedirs(os.path.join(path, child), exist_ok=True)
                    os.rename(os.path.join(tmp_dir, child),
                              os.path.join(path, child, batch))
                    dirs.append(os.path.join(child, batch))
            shutil.rmtree(tmp_dir, ignore_errors=True)
        return [
            {"add": {"path": rel, "partitionValues": partition_values(rel),
                     "size": os.path.getsize(os.path.join(path, rel)),
                     "modificationTime": 0, "dataChange": True}}
            for d in dirs
            for rel in (os.path.join(d, f) for f in sorted(os.listdir(os.path.join(path, d))))
            if rel.endswith(".parquet")
        ]

    # positions for a delete commit are collected driver-side (bounded by
    # the DELETED cardinality, not table size) — refuse unbounded collects
    DELETE_POSITIONS_CAP = 5_000_000

    def delete_where(self, condition) -> int:
        """Commit a DELETION-VECTOR version removing current rows matching
        ``condition``: affected files get a remove + re-add carrying a
        deletionVector descriptor (storageType "u", one shared
        deletion_vector_<uuid>.bin holding a framed blob per file), and the
        protocol is upgraded to 3/7 with the deletionVectors feature.
        A file's new DV contains the union of its old DV and the new
        matches (a descriptor REPLACES, never stacks).  Returns the number
        of newly deleted rows."""
        from moosestack_spark.catalog.roaring import dv_blob, z85_encode

        meta, files = self.snapshot()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        live = self.read()  # existing DVs already applied
        matches = (
            live.withColumn(
                "__fp",
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:(//)?", ""
                ),
            )
            .withColumn("__pos", F.col("_metadata.row_index"))
            .filter(cond)
            .select("__fp", "__pos")
        )
        n = matches.count()
        if n == 0:
            return 0
        if n > self.DELETE_POSITIONS_CAP:
            raise ValueError(
                f"delete_where matches {n} rows (cap "
                f"{self.DELETE_POSITIONS_CAP}): a delete this large should "
                "rewrite files, not grow deletion vectors"
            )
        by_file: dict[str, set[int]] = {}
        for r in matches.collect():
            by_file.setdefault(r["__fp"], set()).add(r["__pos"])

        # fold in prior DV positions for the affected files
        for rel, add in files.items():
            abs_path = os.path.join(self.path, rel)
            if abs_path not in by_file:
                continue
            dv = add.get("deletionVector")
            if not dv:
                continue
            by_file[abs_path].update(
                _dv_positions(
                    self.path,
                    dv["storageType"],
                    dv["pathOrInlineDv"],
                    int(dv.get("offset", 0) or 0),
                    int(dv["sizeInBytes"]),
                )
            )

        dv_uuid = uuid.uuid4()
        dv_name = f"deletion_vector_{dv_uuid}.bin"
        buf = bytearray(b"\x01")
        descriptors: dict[str, dict] = {}
        for abs_path in sorted(by_file):
            positions = sorted(by_file[abs_path])
            offset = len(buf)
            blob = dv_blob(positions)
            buf += blob
            descriptors[abs_path] = {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(dv_uuid.bytes),
                "offset": offset,
                "sizeInBytes": len(blob) - 8,  # framed size minus len+crc
                "cardinality": len(positions),
            }
        with open(os.path.join(self.path, dv_name), "wb") as fh:
            fh.write(bytes(buf))

        actions: list[dict] = [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            }
        ]
        for rel, add in files.items():
            abs_path = os.path.join(self.path, rel)
            if abs_path not in descriptors:
                continue
            actions.append({"remove": {"path": rel, "dataChange": True}})
            new_add = dict(add)
            new_add["deletionVector"] = descriptors[abs_path]
            new_add["dataChange"] = True
            actions.append({"add": new_add})
        actions.append(
            {
                "commitInfo": {
                    "operation": "DELETE",
                    "operationParameters": {},
                }
            }
        )
        self.log.commit(actions)
        return n

    # -- maintenance -----------------------------------------------------------

    def compact(self, target_partitions: int | None = None) -> int:
        """OPTIMIZE: materialize the current LIVE rows (deletion vectors
        applied) into fresh data files and commit remove-all + add-new —
        small files merge and DVs stop being consulted.  Prior versions
        stay time-travelable until vacuum().  Returns the new version."""
        meta, files = self.snapshot()
        part_cols = meta.get("partitionColumns", [])
        live = self.read()
        # column mapping: read() returned LOGICAL names, but rewritten
        # data files must carry PHYSICAL names or the next read's mapping
        # select would find nothing — rename back before writing
        phys_of = _physical_names(json.loads(meta["schemaString"]))
        if (meta.get("configuration") or {}).get("delta.columnMapping.mode"):
            live = live.select(
                *[F.col(c).alias(phys_of.get(c, c)) for c in live.columns]
            )
        if target_partitions:
            live = live.repartition(target_partitions)
        pcol = phys_of.get(part_cols[0], part_cols[0]) if part_cols else None
        adds = self._write_files(live, self.path, pcol)
        actions: list[dict] = [
            {"remove": {"path": rel, "dataChange": False}} for rel in files
        ]
        actions.extend(adds)
        actions.append(
            {
                "commitInfo": {
                    "operation": "OPTIMIZE",
                    "operationParameters": {},
                }
            }
        )
        return self.log.commit(actions)

    def vacuum(self, keep_last: int = 1) -> int:
        """Delete data and deletion-vector files not referenced by the
        newest ``keep_last`` versions' snapshots (Delta VACUUM semantics:
        older versions stop being readable; the log itself is kept).
        Returns the number of files removed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = self.versions()
        referenced: set[str] = set()
        for v in versions[-keep_last:]:
            _, files = self.snapshot(v)
            for rel, add in files.items():
                referenced.add(os.path.abspath(os.path.join(self.path, rel)))
                dv = add.get("deletionVector")
                if dv and dv["storageType"] in ("u", "p"):
                    referenced.add(os.path.abspath(_dv_file(
                        self.path, dv["storageType"], dv["pathOrInlineDv"]
                    )))
        removed = 0
        for root, dirs, fnames in os.walk(self.path):
            if os.path.abspath(root).startswith(
                os.path.abspath(self.log_dir)
            ):
                continue
            for f in fnames:
                if not (f.endswith(".parquet") or f.endswith(".bin")):
                    continue
                fp = os.path.abspath(os.path.join(root, f))
                if fp not in referenced:
                    os.remove(fp)
                    removed += 1
        return removed

    def write_checkpoint(self, version: int | None = None) -> str:
        """Materialize the snapshot at ``version`` as a checkpoint parquet
        + _last_checkpoint pointer (readers then skip the JSON prefix).
        Commits already checkpoint every 10th version."""
        return self.log.write_checkpoint(version)


def _delta_to_sql(t) -> str:
    if isinstance(t, dict):
        return "STRING"
    return {
        "long": "BIGINT",
        "integer": "INT",
        "double": "DOUBLE",
        "float": "FLOAT",
        "string": "STRING",
        "boolean": "BOOLEAN",
        "date": "DATE",
        "timestamp": "TIMESTAMP",
    }.get(t, "STRING")
