"""The transaction log behind OlapTable and DeltaNativeTable: a table
version is a commit in the log, and a file belongs to the table only while
the head snapshot lists it.

Layout (the Delta protocol's, github.com/delta-io/delta PROTOCOL.md):

- ``<version:020d>.json``: one commit, newline-delimited actions (protocol /
  metaData / add / remove / commitInfo);
- the snapshot at version v replays adds minus removes up to v, starting
  from the newest ``<version:020d>.checkpoint.parquet`` at or below v (its
  protocol, metaData and add actions, one action per row); ``_last_checkpoint``
  names the newest checkpoint for other Delta readers;
- a checkpoint is written at every CHECKPOINT_INTERVAL-th version, so a
  replay reads one directory listing, at most one checkpoint and fewer than
  CHECKPOINT_INTERVAL commits.  Checkpoints are read and written with
  pyarrow in the calling process: a log read never runs a Spark job.

A commit is published put-if-absent (``publish``): the next version's file
is hard-linked into place, which fails if another writer, in any process,
took that number first; the loser re-lists and retries at the next one.  A
commit that removes files lands only while every one of them is still live,
so two rewrites of the same files cannot both win.  Readers see a whole
commit or none of it, and data files are invisible until the commit that
adds them lands.
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse
import uuid
import warnings
from dataclasses import dataclass, field
from typing import Optional

CHECKPOINT_INTERVAL = 10  # Delta's default delta.checkpointInterval

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CKPT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")


class CommitConflict(RuntimeError):
    """A commit lost an optimistic race: it removes a file that a
    concurrent commit already removed, or (the Iceberg REST client) the
    catalog refused its requirements with HTTP 409."""


def publish(path: str, text: str) -> None:
    """Create ``path`` holding ``text``, atomically and only if it does not
    exist: the text goes to a temp file in the same directory, which is then
    hard-linked to ``path``.  Raises FileExistsError when another writer
    published ``path`` first."""
    tmp = os.path.join(
        os.path.dirname(path), f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp"
    )
    with open(tmp, "w") as fh:
        fh.write(text)
    try:
        os.link(tmp, path)
    finally:
        os.remove(tmp)


def partition_values(rel: str) -> dict[str, Optional[str]]:
    """The Hive partition values in a data file's path relative to its table
    (``d=x%3A1/part-0.parquet`` -> {"d": "x:1"}), unescaped as Spark's
    writer escaped them, with the default partition as null."""
    return {
        k: None if v == "__HIVE_DEFAULT_PARTITION__" else urllib.parse.unquote(v)
        for k, eq, v in (d.partition("=") for d in rel.split("/")[:-1])
        if eq
    }


def _checkpoint_schema():
    import pyarrow as pa

    strings = pa.list_(pa.string())
    string_map = pa.map_(pa.string(), pa.string())
    return pa.schema([
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32()),
            ("readerFeatures", strings), ("writerFeatures", strings),
        ])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", strings),
            ("configuration", string_map),
        ])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", string_map),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("deletionVector", pa.struct([
                ("storageType", pa.string()), ("pathOrInlineDv", pa.string()),
                ("offset", pa.int64()), ("sizeInBytes", pa.int64()),
                ("cardinality", pa.int64()),
            ])),
        ])),
    ])


_MAP_FIELDS = ("partitionValues", "configuration")


def _from_row(action: dict) -> dict:
    """A checkpoint row's struct as the JSON action it was written from:
    maps back to dicts, absent (null) fields dropped."""
    return {k: dict(v) if k in _MAP_FIELDS else v for k, v in action.items() if v is not None}


@dataclass
class Snapshot:
    version: int
    files: dict[str, dict] = field(default_factory=dict)  # path -> add action
    meta: Optional[dict] = None
    protocol: Optional[dict] = None


class TxLog:
    """The commit log in ``log_dir``; ``first`` is the number of the first
    commit (Delta tables start at 0, OlapTable at 1)."""

    def __init__(self, log_dir: str, first: int = 0) -> None:
        self.log_dir = log_dir
        self.first = first

    def _commit_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.json")

    def _listing(self) -> tuple[list[int], list[int]]:
        """(commit versions, checkpoint versions), ascending, from one
        listing.  Any other name in the directory is ignored."""
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            return [], []
        commits, ckpts = [], []
        for n in names:
            if m := _COMMIT_RE.match(n):
                commits.append(int(m.group(1)))
            elif m := _CKPT_RE.match(n):
                ckpts.append(int(m.group(1)))
        return sorted(commits), sorted(ckpts)

    def versions(self) -> list[int]:
        return self._listing()[0]

    def actions(self, version: int) -> list[dict]:
        with open(self._commit_path(version)) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def snapshot(self, version: Optional[int] = None) -> Snapshot:
        """The snapshot at ``version`` (default: the head).  Raises
        FileNotFoundError for the head of an empty log and ValueError for a
        version the log does not hold or can no longer replay."""
        versions, ckpts = self._listing()
        if version is None and not versions:
            raise FileNotFoundError(f"no commits under {self.log_dir}")
        target = versions[-1] if version is None else version
        have = set(versions)
        if target not in have:
            raise ValueError(f"no snapshot v{target} (have versions {versions})")
        base = max((c for c in ckpts if c <= target), default=None)
        snap = Snapshot(target) if base is None else self._read_checkpoint(base)
        for v in range(self.first if base is None else base + 1, target + 1):
            if v not in have:
                raise ValueError(
                    f"no snapshot v{target}: v{v} is gone from {self.log_dir}"
                )
            for a in self.actions(v):
                if "add" in a:
                    snap.files[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    snap.files.pop(a["remove"]["path"], None)
                elif "metaData" in a:
                    snap.meta = a["metaData"]
                elif "protocol" in a:
                    snap.protocol = a["protocol"]
        snap.version = target
        return snap

    def head(self) -> Optional[Snapshot]:
        """The newest snapshot, or None when the log holds no commit."""
        try:
            return self.snapshot()
        except FileNotFoundError:
            return None

    def commit(self, actions: list[dict]) -> int:
        """Publish ``actions`` as the next version and return its number.
        Raises CommitConflict, publishing nothing, when a removed file is
        no longer live at the version the commit would land on."""
        os.makedirs(self.log_dir, exist_ok=True)
        removed = {a["remove"]["path"] for a in actions if "remove" in a}
        text = "".join(json.dumps(a) + "\n" for a in actions)
        while True:
            versions = self.versions()
            version = versions[-1] + 1 if versions else self.first
            if removed:
                live = self.snapshot(versions[-1]).files if versions else {}
                gone = removed - live.keys()
                if gone:
                    raise CommitConflict(
                        f"{self.log_dir}: {len(gone)} file(s) this commit removes "
                        f"were removed by a concurrent commit, e.g. {min(gone)}"
                    )
            try:
                publish(self._commit_path(version), text)
                break
            except FileExistsError:
                continue  # another writer took this version: re-list and retry
        if version > 0 and version % CHECKPOINT_INTERVAL == 0:
            try:
                self.write_checkpoint(version)
            except OSError as exc:  # the commit stands; a later one checkpoints
                warnings.warn(f"checkpoint v{version} of {self.log_dir} not written: {exc}")
        return version

    def _read_checkpoint(self, version: int) -> Snapshot:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(
            os.path.join(self.log_dir, f"{version:020d}.checkpoint.parquet")
        )
        cols = [c for c in ("protocol", "metaData", "add") if c in pf.schema_arrow.names]
        snap = Snapshot(version)
        for row in pf.read(columns=cols).to_pylist():
            if row.get("add"):
                add = _from_row(row["add"])
                snap.files[add["path"]] = add
            elif row.get("metaData"):
                snap.meta = _from_row(row["metaData"])
            elif row.get("protocol"):
                snap.protocol = _from_row(row["protocol"])
        return snap

    def write_checkpoint(self, version: Optional[int] = None) -> str:
        """Write the snapshot at ``version`` (default: the head) as its
        checkpoint and point ``_last_checkpoint`` at it; returns the path.
        Its content follows from the log alone, so a rewrite by a racing
        writer is harmless."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.snapshot(version)
        rows = [{"protocol": snap.protocol}] if snap.protocol else []
        if snap.meta:
            rows.append({"metaData": snap.meta})
        rows += [{"add": add} for add in snap.files.values()]
        final = os.path.join(self.log_dir, f"{snap.version:020d}.checkpoint.parquet")
        tmp = f"{final}.{uuid.uuid4().hex}.tmp"
        pq.write_table(pa.Table.from_pylist(rows, schema=_checkpoint_schema()), tmp)
        os.replace(tmp, final)
        last = os.path.join(self.log_dir, "_last_checkpoint")
        with open(tmp, "w") as fh:
            json.dump({"version": snap.version, "size": len(rows)}, fh)
        os.replace(tmp, last)
        return final

    def expire(self, oldest_kept: int) -> int:
        """Drop every version below ``oldest_kept`` from the log, after
        checkpointing ``oldest_kept`` so it and every later version still
        replay.  Newest first, so a crash part-way leaves each surviving
        version replayable.  Returns the number of versions dropped."""
        versions, ckpts = self._listing()
        expired = [v for v in versions if v < oldest_kept]
        if not expired:
            return 0
        self.write_checkpoint(oldest_kept)
        for v in reversed(expired):
            os.remove(self._commit_path(v))
        for c in ckpts:
            if c < oldest_kept:
                os.remove(os.path.join(self.log_dir, f"{c:020d}.checkpoint.parquet"))
        return len(expired)
