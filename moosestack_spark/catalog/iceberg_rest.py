"""Iceberg REST-catalog protocol: loopback server + client + table handle.

Implements the subset of the public Iceberg REST Catalog OpenAPI
(apache/iceberg open-api rest-catalog-open-api.yaml) that a lake client
actually exercises:

- ``GET  /v1/config``                                  — CatalogConfig
- ``GET/POST /v1/{prefix}/namespaces``                 — list / create
- ``GET  /v1/{prefix}/namespaces/{ns}/tables``         — list tables
- ``POST /v1/{prefix}/namespaces/{ns}/register``       — RegisterTableRequest
  (name + metadata-location; the spec-blessed way to adopt an existing
  table, used here for CREATE so staging reuses the native writer)
- ``GET  /v1/{prefix}/namespaces/{ns}/tables/{tbl}``    — LoadTableResult
- ``POST /v1/{prefix}/namespaces/{ns}/tables/{tbl}``    — CommitTableRequest:
  requirements (``assert-create``, ``assert-table-uuid``,
  ``assert-ref-snapshot-id``) validated against the server's CURRENT
  metadata; on failure the server answers **409 CommitFailedException**
  and the client must reload + rebase + retry (optimistic concurrency).
  On success the SERVER authors the new metadata file (applies
  ``add-snapshot`` / ``set-snapshot-ref`` / ``set-properties`` updates)
  and advances its metadata-location pointer — the commit pointer is
  catalog-owned, exactly as in Polaris/Lakekeeper/Glue.

Reference semantics: the reference delegates Iceberg access to
ClickHouse's read-only IcebergS3 engine and always queries the catalog's
latest snapshot (packages/py-moose-lib/moose_lib/blocks.py:425-478).
Here the same data path is the native metadata walk
(catalog/iceberg_native.py); this module adds the *catalog protocol* so
tables resolve by (namespace, name) through REST instead of a directory
version-hint.

Scale notes (100 TB): the catalog exchange is O(metadata) — a LoadTable
response carries one JSON document and commits carry one snapshot; no
data moves through the catalog.  All data-file I/O stays on executors via
IcebergNativeTable.

Staging and concurrency: a writer stages on the metadata the catalog
served, with the native table's own stager (``IcebergNativeTable._stage``:
one manifest and one manifest list under uuid4 names, a random snapshot
id), and builds its commit body from the metadata dict that returns; it
publishes no metadata file, so directory-catalog readers of the same path
never see a staged write.  An append writes its data files once; a 409
reloads the table and re-stages only the manifests on the new snapshot.
A delete re-scans on every attempt, since its position-delete files name
rows of the snapshot it read.
"""

from __future__ import annotations

import json
import os
import threading
import urllib.error
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from moosestack_spark.catalog.iceberg_native import IcebergNativeTable, metadata_version
from moosestack_spark.catalog.txlog import CommitConflict


def _load_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


class _CatalogState:
    """In-memory namespace/table registry; metadata FILES live on disk.

    The authoritative pointer is ``tables[(ns, name)] = metadata_location``;
    server-authored metadata versions are written next to the table under
    ``<location>/rest-metadata/v{n}.metadata.json``, apart from the
    directory catalog's ``<location>/metadata/`` versions.
    """

    def __init__(self) -> None:
        self.namespaces: set[str] = set()
        self.ns_props: dict[str, dict] = {}
        self.tables: dict[tuple[str, str], str] = {}
        self.lock = threading.Lock()


def _check_requirements(reqs: list[dict], current: Optional[dict]) -> Optional[str]:
    """Return an error string if any requirement fails against the CURRENT
    table metadata (None = table does not exist yet)."""
    for r in reqs:
        typ = r.get("type")
        if typ == "assert-create":
            if current is not None:
                return "assert-create failed: table already exists"
        elif typ == "assert-table-uuid":
            if current is None or current.get("table-uuid") != r.get("uuid"):
                return "assert-table-uuid failed"
        elif typ == "assert-ref-snapshot-id":
            if current is None:
                return "assert-ref-snapshot-id failed: no table"
            want = r.get("snapshot-id")
            have = current.get("current-snapshot-id")
            if want != have:
                return (
                    f"assert-ref-snapshot-id failed: ref {r.get('ref')!r} is "
                    f"at {have}, commit based on {want}"
                )
        else:
            return f"unsupported requirement type {typ!r}"
    return None


def _apply_updates(meta: dict, updates: list[dict]) -> dict:
    """Server-side metadata evolution for the update actions an append
    commit carries.  Unknown actions are refused loudly (never silently
    dropped — a dropped update would corrupt the table's history)."""
    out = json.loads(json.dumps(meta))  # deep copy
    for u in updates:
        act = u.get("action")
        if act == "add-snapshot":
            snap = u["snapshot"]
            if any(
                s["snapshot-id"] == snap["snapshot-id"]
                for s in out.get("snapshots", [])
            ):
                raise ValueError(
                    f"snapshot {snap['snapshot-id']} already present"
                )
            out.setdefault("snapshots", []).append(snap)
            out["last-sequence-number"] = max(
                out.get("last-sequence-number", 0), snap.get("sequence-number", 0)
            )
            out["last-updated-ms"] = snap.get("timestamp-ms", 0)
        elif act == "set-snapshot-ref":
            if u.get("ref-name") != "main" or u.get("type") != "branch":
                raise ValueError("only the main branch ref is supported")
            sid = u["snapshot-id"]
            if not any(
                s["snapshot-id"] == sid for s in out.get("snapshots", [])
            ):
                raise ValueError(f"set-snapshot-ref to unknown snapshot {sid}")
            out["current-snapshot-id"] = sid
            out.setdefault("refs", {})["main"] = {
                "snapshot-id": sid,
                "type": "branch",
            }
        elif act == "set-properties":
            out.setdefault("properties", {}).update(u.get("updates", {}))
        else:
            raise ValueError(f"unsupported update action {act!r}")
    return out


class _CommitError(Exception):
    def __init__(self, code: int, msg: str, etype: str) -> None:
        super().__init__(msg)
        self.code, self.msg, self.etype = code, msg, etype


def _validate_table_change(
    st: "_CatalogState", ns: str, tbl: str, reqs: list[dict], updates: list[dict]
) -> tuple[str, dict]:
    """Phase 1 of a commit (caller holds st.lock): check requirements and
    compute the new metadata WITHOUT touching disk or pointers.  Returns
    (current_location, new_metadata); raises _CommitError on any failure —
    the same code/ordering the single-table route has always used (409
    before 404: a failed requirement wins over table-missing)."""
    loc = st.tables.get((ns, tbl))
    current = _load_json(loc) if loc else None
    fail = _check_requirements(reqs, current)
    if fail:
        raise _CommitError(409, f"{ns}.{tbl}: {fail}", "CommitFailedException")
    if current is None:
        raise _CommitError(404, f"table {ns}.{tbl}", "NoSuchTableException")
    try:
        new_meta = _apply_updates(current, updates)
    except ValueError as exc:
        raise _CommitError(400, f"{ns}.{tbl}: {exc}", "BadRequestException")
    return loc, new_meta


def _write_new_version(loc: str, new_meta: dict) -> str:
    """Phase 2: server authors the next metadata version file next to the
    table; the pointer swap (phase 3) is the caller's — so a multi-table
    transaction can write every file before swapping ANY pointer."""
    out_dir = os.path.join(new_meta["location"], "rest-metadata")
    os.makedirs(out_dir, exist_ok=True)
    new_loc = os.path.join(out_dir, f"v{metadata_version(loc) + 1}.metadata.json")
    tmp = new_loc + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(new_meta, fh, indent=1)
    os.replace(tmp, new_loc)
    return new_loc


class IcebergRestCatalogServer:
    """Loopback REST catalog backed by local metadata files.

    ``token``: when set, every request must carry
    ``Authorization: Bearer <token>`` (401 otherwise) — same auth shape
    real catalogs use for OAuth bearer flows.
    """

    def __init__(self, prefix: str = "lake", token: Optional[str] = None) -> None:
        self.prefix = prefix
        self.token = token
        self.state = _CatalogState()
        self._httpd: Optional[ThreadingHTTPServer] = None
        self._thread: Optional[threading.Thread] = None
        self.port: Optional[int] = None

    # -- lifecycle -----------------------------------------------------------

    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a) -> None:  # quiet
                pass

            def _send(self, code: int, body: dict) -> None:
                data = json.dumps(body).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _err(self, code: int, msg: str, etype: str) -> None:
                self._send(
                    code,
                    {"error": {"message": msg, "type": etype, "code": code}},
                )

            def _authed(self) -> bool:
                if server.token is None:
                    return True
                got = self.headers.get("Authorization", "")
                if got == f"Bearer {server.token}":
                    return True
                self._err(401, "missing or bad bearer token", "NotAuthorizedException")
                return False

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length") or 0)
                return json.loads(self.rfile.read(n) or b"{}")

            def do_GET(self) -> None:
                if not self._authed():
                    return
                parts = [p for p in self.path.split("/") if p]
                st = server.state
                if parts == ["v1", "config"]:
                    self._send(
                        200,
                        {"defaults": {}, "overrides": {"prefix": server.prefix}},
                    )
                elif parts == ["v1", server.prefix, "namespaces"]:
                    with st.lock:
                        ns = sorted(st.namespaces)
                    self._send(200, {"namespaces": [[n] for n in ns]})
                elif (
                    len(parts) == 4
                    and parts[:2] == ["v1", server.prefix]
                    and parts[2] == "namespaces"
                ):
                    ns = parts[3]
                    with st.lock:
                        if ns not in st.namespaces:
                            return self._err(
                                404, f"namespace {ns}",
                                "NoSuchNamespaceException",
                            )
                        props = dict(st.ns_props.get(ns, {}))
                    self._send(
                        200, {"namespace": [ns], "properties": props}
                    )
                elif (
                    len(parts) == 5
                    and parts[:2] == ["v1", server.prefix]
                    and parts[2] == "namespaces"
                    and parts[4] == "tables"
                ):
                    ns = parts[3]
                    with st.lock:
                        if ns not in st.namespaces:
                            return self._err(
                                404, f"namespace {ns}", "NoSuchNamespaceException"
                            )
                        tbls = sorted(t for (n, t) in st.tables if n == ns)
                    self._send(
                        200,
                        {
                            "identifiers": [
                                {"namespace": [ns], "name": t} for t in tbls
                            ]
                        },
                    )
                elif (
                    len(parts) == 6
                    and parts[:2] == ["v1", server.prefix]
                    and parts[2] == "namespaces"
                    and parts[4] == "tables"
                ):
                    ns, tbl = parts[3], parts[5]
                    with st.lock:
                        loc = st.tables.get((ns, tbl))
                    if loc is None:
                        return self._err(
                            404, f"table {ns}.{tbl}", "NoSuchTableException"
                        )
                    self._send(
                        200,
                        {
                            "metadata-location": loc,
                            "metadata": _load_json(loc),
                            "config": {},
                        },
                    )
                else:
                    self._err(404, self.path, "NotFoundException")

            def do_POST(self) -> None:
                if not self._authed():
                    return
                parts = [p for p in self.path.split("/") if p]
                st = server.state
                if parts == ["v1", server.prefix, "namespaces"]:
                    body = self._body()
                    ns = body["namespace"][0]
                    with st.lock:
                        if ns in st.namespaces:
                            return self._err(
                                409, f"namespace {ns}", "AlreadyExistsException"
                            )
                        st.namespaces.add(ns)
                    self._send(200, {"namespace": [ns], "properties": {}})
                elif (
                    len(parts) == 5
                    and parts[:2] == ["v1", server.prefix]
                    and parts[2] == "namespaces"
                    and parts[4] == "register"
                ):
                    ns = parts[3]
                    body = self._body()
                    name, loc = body["name"], body["metadata-location"]
                    with st.lock:
                        if ns not in st.namespaces:
                            return self._err(
                                404, f"namespace {ns}", "NoSuchNamespaceException"
                            )
                        if (ns, name) in st.tables:
                            return self._err(
                                409,
                                f"table {ns}.{name} exists",
                                "AlreadyExistsException",
                            )
                        if not os.path.exists(loc):
                            return self._err(
                                400, f"no metadata at {loc}", "BadRequestException"
                            )
                        st.tables[(ns, name)] = loc
                    self._send(
                        200,
                        {
                            "metadata-location": loc,
                            "metadata": _load_json(loc),
                        },
                    )
                elif (
                    len(parts) == 6
                    and parts[:2] == ["v1", server.prefix]
                    and parts[2] == "namespaces"
                    and parts[4] == "tables"
                ):
                    ns, tbl = parts[3], parts[5]
                    body = self._body()
                    with st.lock:
                        try:
                            loc, new_meta = _validate_table_change(
                                st, ns, tbl,
                                body.get("requirements", []),
                                body.get("updates", []),
                            )
                        except _CommitError as exc:
                            return self._err(exc.code, exc.msg, exc.etype)
                        new_loc = _write_new_version(loc, new_meta)
                        st.tables[(ns, tbl)] = new_loc
                    self._send(
                        200,
                        {"metadata-location": new_loc, "metadata": new_meta},
                    )
                elif (
                    len(parts) == 5
                    and parts[:2] == ["v1", server.prefix]
                    and parts[2] == "namespaces"
                    and parts[4] == "properties"
                ):
                    # UpdateNamespacePropertiesRequest (apache/iceberg
                    # open-api): disjoint removals + updates, reports
                    # removed/updated/missing
                    ns = parts[3]
                    body = self._body()
                    removals = body.get("removals") or []
                    updates = body.get("updates") or {}
                    overlap = set(removals) & set(updates)
                    if overlap:
                        return self._err(
                            400,
                            f"keys in both removals and updates: "
                            f"{sorted(overlap)}",
                            "BadRequestException",
                        )
                    with st.lock:
                        if ns not in st.namespaces:
                            return self._err(
                                404, f"namespace {ns}",
                                "NoSuchNamespaceException",
                            )
                        props = st.ns_props.setdefault(ns, {})
                        removed = [k for k in removals if k in props]
                        missing = [k for k in removals if k not in props]
                        for k in removed:
                            del props[k]
                        props.update(updates)
                    self._send(
                        200,
                        {
                            "removed": removed,
                            "updated": sorted(updates),
                            "missing": missing,
                        },
                    )
                elif parts == ["v1", server.prefix, "transactions", "commit"]:
                    # CommitTransactionRequest: ALL-OR-NOTHING across the
                    # listed tables.  Under the catalog lock: validate
                    # every change first (any failure -> nothing applied),
                    # then write every new metadata file, then swap every
                    # pointer — a reader never observes a partial commit.
                    body = self._body()
                    changes = body.get("table-changes", [])
                    if not changes:
                        return self._err(
                            400, "empty table-changes", "BadRequestException"
                        )
                    idents = []
                    for ch in changes:
                        ident = ch.get("identifier") or {}
                        ns_list = ident.get("namespace") or [None]
                        idents.append((ns_list[0], ident.get("name")))
                    if len(set(idents)) != len(idents):
                        return self._err(
                            400,
                            "duplicate table identifier in transaction",
                            "BadRequestException",
                        )
                    with st.lock:
                        staged = []
                        try:
                            for (ns, tbl), ch in zip(idents, changes):
                                loc, new_meta = _validate_table_change(
                                    st, ns, tbl,
                                    ch.get("requirements", []),
                                    ch.get("updates", []),
                                )
                                staged.append((ns, tbl, loc, new_meta))
                        except _CommitError as exc:
                            return self._err(exc.code, exc.msg, exc.etype)
                        results = []
                        for ns, tbl, loc, new_meta in staged:
                            new_loc = _write_new_version(loc, new_meta)
                            results.append((ns, tbl, new_loc))
                        for ns, tbl, new_loc in results:
                            st.tables[(ns, tbl)] = new_loc
                    # spec: CommitTransaction responds 204 No Content
                    # (apache/iceberg open-api); clients re-load tables to
                    # observe the new metadata locations
                    self.send_response(204)
                    self.end_headers()
                else:
                    self._err(404, self.path, "NotFoundException")

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None


class IcebergRestCatalog:
    """Minimal stdlib client for the REST catalog protocol."""

    def __init__(self, uri: str, token: Optional[str] = None) -> None:
        self.uri = uri.rstrip("/")
        self.token = token
        cfg = self._req("GET", "/v1/config")
        self.prefix = cfg.get("overrides", {}).get("prefix", "")

    def _req(self, method: str, path: str, body: Optional[dict] = None) -> dict:
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(
            self.uri + path, data=data, method=method
        )
        req.add_header("Content-Type", "application/json")
        if self.token:
            req.add_header("Authorization", f"Bearer {self.token}")
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return json.loads(resp.read() or b"{}")
        except urllib.error.HTTPError as exc:
            payload = exc.read().decode(errors="replace")
            if exc.code == 409:
                raise CommitConflict(payload) from None
            raise RuntimeError(f"HTTP {exc.code} on {method} {path}: {payload}")

    def _t(self, path: str) -> str:
        return f"/v1/{self.prefix}{path}"

    def create_namespace(self, ns: str) -> None:
        self._req("POST", self._t("/namespaces"), {"namespace": [ns]})

    def list_namespaces(self) -> list[str]:
        out = self._req("GET", self._t("/namespaces"))
        return [n[0] for n in out["namespaces"]]

    def list_tables(self, ns: str) -> list[str]:
        out = self._req("GET", self._t(f"/namespaces/{ns}/tables"))
        return [i["name"] for i in out["identifiers"]]

    def register_table(self, ns: str, name: str, metadata_location: str) -> dict:
        return self._req(
            "POST",
            self._t(f"/namespaces/{ns}/register"),
            {"name": name, "metadata-location": metadata_location},
        )

    def load_table(self, ns: str, name: str) -> dict:
        return self._req("GET", self._t(f"/namespaces/{ns}/tables/{name}"))

    def commit_table(
        self, ns: str, name: str, requirements: list[dict], updates: list[dict]
    ) -> dict:
        return self._req(
            "POST",
            self._t(f"/namespaces/{ns}/tables/{name}"),
            {"requirements": requirements, "updates": updates},
        )

    def load_namespace(self, ns: str) -> dict:
        return self._req("GET", self._t(f"/namespaces/{ns}"))

    def update_namespace_properties(
        self,
        ns: str,
        updates: Optional[dict] = None,
        removals: Optional[list[str]] = None,
    ) -> dict:
        return self._req(
            "POST",
            self._t(f"/namespaces/{ns}/properties"),
            {"updates": updates or {}, "removals": removals or []},
        )

    def commit_transaction(
        self, changes: list[tuple[str, str, list[dict], list[dict]]]
    ) -> dict:
        """All-or-nothing multi-table commit (CommitTransactionRequest);
        changes = [(ns, name, requirements, updates), ...]."""
        return self._req(
            "POST",
            self._t("/transactions/commit"),
            {
                "table-changes": [
                    {
                        "identifier": {"namespace": [ns], "name": name},
                        "requirements": reqs,
                        "updates": ups,
                    }
                    for ns, name, reqs, ups in changes
                ]
            },
        )


def _pinned(spark: SparkSession, loaded: dict) -> IcebergNativeTable:
    """A native table whose current metadata is the CATALOG-served
    location of ``loaded`` (not the directory's version-hint) — reads and
    staged writes both base on the catalog's view of the table."""

    class _Pinned(IcebergNativeTable):
        def _current_metadata_path(self) -> str:
            return loaded["metadata-location"]

    return _Pinned(spark, loaded["metadata"]["location"])


def _commit_body(loaded: dict, staged: dict) -> tuple[list[dict], list[dict]]:
    """(requirements, updates) that commit the newest snapshot of the
    ``staged`` metadata dict on top of the ``loaded`` table."""
    snap = staged["snapshots"][-1]
    reqs = [
        {
            "type": "assert-ref-snapshot-id",
            "ref": "main",
            "snapshot-id": loaded["metadata"].get("current-snapshot-id"),
        }
    ]
    updates = [
        {"action": "add-snapshot", "snapshot": snap},
        {
            "action": "set-snapshot-ref",
            "ref-name": "main",
            "type": "branch",
            "snapshot-id": snap["snapshot-id"],
        },
    ]
    return reqs, updates


def _retrying(what: str, attempt, max_retries: int):
    """Run ``attempt()`` until it returns without a 409, at most
    ``max_retries`` times."""
    last: Exception | None = None
    for _ in range(max_retries):
        try:
            return attempt()
        except CommitConflict as exc:
            last = exc
    raise CommitConflict(
        f"{what} lost {max_retries} optimistic races; last server answer: {last}"
    )


class IcebergRestTable:
    """Catalog-resolved table handle: reads via the native metadata walk,
    writes via stage-locally + REST-commit with the optimistic-concurrency
    retry loop."""

    def __init__(self, catalog: IcebergRestCatalog, ns: str, name: str) -> None:
        self.catalog = catalog
        self.ns = ns
        self.name = name

    @classmethod
    def create(
        cls,
        catalog: IcebergRestCatalog,
        ns: str,
        name: str,
        df: DataFrame,
        path: str,
        **write_kwargs,
    ) -> "IcebergRestTable":
        """Stage an initial table with the native writer, then register its
        metadata-location with the catalog (RegisterTableRequest)."""
        staged = IcebergNativeTable.write(df, path, mode="overwrite", **write_kwargs)
        catalog.register_table(ns, name, staged._current_metadata_path())
        return cls(catalog, ns, name)

    def read(
        self, spark: SparkSession, snapshot_id: Optional[int] = None
    ) -> DataFrame:
        """Read the table as resolved by the catalog; ``snapshot_id`` time-
        travels within the catalog-served metadata (every snapshot the
        current metadata retains is readable — same contract as the
        directory-catalog reader)."""
        loaded = self.catalog.load_table(self.ns, self.name)
        return _pinned(spark, loaded).read(snapshot_id=snapshot_id)

    def snapshots(self, spark: SparkSession = None) -> list[dict]:
        return self.catalog.load_table(self.ns, self.name)["metadata"].get(
            "snapshots", []
        )

    def append(self, df: DataFrame, max_retries: int = 3) -> dict:
        """Write ``df``'s data files once, then load → stage on the loaded
        metadata → commit with ``assert-ref-snapshot-id``; on 409 reload
        and re-stage the manifests.  Returns the server's
        CommitTableResponse."""
        files = self._write(df)

        def attempt() -> dict:
            loaded = self.catalog.load_table(self.ns, self.name)
            return self.catalog.commit_table(
                self.ns, self.name, *self._stage(df, loaded, files)
            )

        return _retrying(f"append to {self.ns}.{self.name}", attempt, max_retries)

    def delete_where(self, spark: SparkSession, condition, max_retries: int = 3) -> int:
        """Row-level delete through the commit protocol: each attempt scans
        the catalog's current snapshot, writes the position-delete files of
        its matching rows, stages them and commits with the same optimistic
        retry loop as append.  Returns the number of deleted positions; 0
        when nothing matched, without a commit."""

        def attempt() -> int:
            loaded = self.catalog.load_table(self.ns, self.name)
            table = _pinned(spark, loaded)
            files = table._position_deletes(condition)
            if files:
                staged = table._stage(loaded["metadata"], files, "delete", content=1)
                self.catalog.commit_table(
                    self.ns, self.name, *_commit_body(loaded, staged)
                )
            return sum(n for _, _, n in files)

        return _retrying(f"delete on {self.ns}.{self.name}", attempt, max_retries)

    def _write(self, df: DataFrame) -> list[tuple[str, dict, int]]:
        """Write ``df``'s data files under the catalog's current spec."""
        loaded = self.catalog.load_table(self.ns, self.name)
        return _pinned(df.sparkSession, loaded)._append_files(df, loaded["metadata"])

    def _stage(
        self, df: DataFrame, loaded: dict, files: Optional[list] = None
    ) -> tuple[list[dict], list[dict]]:
        """Commit body appending ``df`` to the ``loaded`` table: its data
        files (``files`` if already written, else written now) staged on the
        loaded metadata."""
        table = _pinned(df.sparkSession, loaded)
        if files is None:
            files = table._append_files(df, loaded["metadata"])
        return _commit_body(loaded, table._stage(loaded["metadata"], files, "append"))


def multi_table_append(
    handles_dfs: list[tuple["IcebergRestTable", DataFrame]],
    max_retries: int = 3,
) -> dict:
    """ATOMIC multi-table append through the transaction protocol: write
    every table's data files once, stage each on its catalog-loaded
    metadata, then one transactions/commit carrying assert-ref-snapshot-id
    for EVERY table — either all tables advance or none do (the server
    validates all, then swaps all pointers under its lock).  On 409 reload
    + re-stage every table and retry: a conflict on ANY table rebases the
    WHOLE transaction, the all-or-nothing analogue of append()'s loop.

    Return contract (changed in r11, ADVICE r11): the server answers a
    spec-compliant 204 No Content, so the returned summary is synthesized
    client-side and each ``results`` entry carries ONLY the table
    ``identifier`` — the pre-r11 ``metadata-location`` key is gone (it
    reflected a non-spec server body).  Callers that need the committed
    metadata location should ``load_table`` afterwards."""
    if not handles_dfs:
        raise ValueError("multi_table_append: nothing to commit")
    cat = handles_dfs[0][0].catalog
    for h, _ in handles_dfs:
        if h.catalog is not cat:
            raise ValueError(
                "multi_table_append: all handles must share one catalog"
            )
    names = [(h.ns, h.name) for h, _ in handles_dfs]
    if len(set(names)) != len(names):
        raise ValueError(
            f"multi_table_append: duplicate table in transaction: {names}"
        )
    files = [h._write(df) for h, df in handles_dfs]

    def attempt() -> dict:
        cat.commit_transaction([  # 204 No Content per spec
            (h.ns, h.name, *h._stage(df, cat.load_table(h.ns, h.name), fs))
            for (h, df), fs in zip(handles_dfs, files)
        ])
        return {
            "results": [
                {"identifier": {"namespace": [ns], "name": name}}
                for ns, name in names
            ]
        }

    return _retrying(f"transaction over {names}", attempt, max_retries)
