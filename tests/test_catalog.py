"""Catalog-plane parity tests — direct ports of the *behavior contracts*
in the reference's unit/integration tests (not of the code):

- table_metadata.rs:908-1409 (metadata invariants)
- rest/table.rs:92-248 (requirements)
- postgres/table.rs:854-1493 (stage-create overwrite matrix, rename,
  staged invisibility, multi-table commit)
- catalog/namespace.rs (reserved namespaces, depth, property guards)
"""

from __future__ import annotations

import gc
import json
import os
import sqlite3
import subprocess
import sys
import threading
from pathlib import Path

import pytest

from iceberg_rest_server_spark.catalog import (
    CatalogStore,
    CommitError,
    ConflictError,
    NotFoundError,
    TableMetadataBuilder,
    ValidationError,
    WarehouseNotEmptyError,
    assert_requirement,
)
from iceberg_rest_server_spark.catalog.client import CatalogHTTPError, RestCatalogClient
from iceberg_rest_server_spark.catalog.server import ServerThread
from iceberg_rest_server_spark.catalog.store import (
    NamespaceNotEmptyError,
    NamespaceNotFoundError,
    TableAlreadyExistsError,
    TableNotFoundError,
)

SCHEMA = {
    "type": "struct",
    "fields": [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "name", "required": False, "type": "string"},
    ],
}


def _builder_with_schema() -> TableMetadataBuilder:
    b = TableMetadataBuilder()
    b.apply({"action": "set-location", "location": "file:///tmp/t"})
    b.apply({"action": "add-schema", "schema": dict(SCHEMA)})
    b.apply({"action": "set-current-schema", "schema-id": -1})
    return b


# ------------------------------------------------------- metadata builder

def test_uuid_reassignment_rejected():
    b = _builder_with_schema()
    with pytest.raises(CommitError):
        b.apply({"action": "assign-uuid", "uuid": "11111111-1111-1111-1111-111111111111"})


def test_format_version_downgrade_rejected():
    b = _builder_with_schema()
    with pytest.raises(CommitError):
        b.apply({"action": "upgrade-format-version", "format-version": 1})


def test_schema_structural_dedup_and_id_increment():
    b = _builder_with_schema()
    b.apply({"action": "add-schema", "schema": dict(SCHEMA)})  # identical → dedup
    assert len(b.m["schemas"]) == 1
    wider = {
        "type": "struct",
        "fields": SCHEMA["fields"] + [{"id": 3, "name": "x", "required": False, "type": "int"}],
    }
    b.apply({"action": "add-schema", "schema": wider, "last-column-id": 3})
    assert [s["schema-id"] for s in b.m["schemas"]] == [0, 1]
    assert b.m["last-column-id"] == 3


def test_last_column_id_regression_rejected():
    b = _builder_with_schema()
    b.m["last-column-id"] = 5
    with pytest.raises(CommitError):
        b.apply({"action": "add-schema", "schema": dict(SCHEMA), "last-column-id": 2})


def test_partition_field_ids_allocated_from_1000():
    b = _builder_with_schema()
    b.apply(
        {
            "action": "add-spec",
            "spec": {"fields": [{"source-id": 1, "name": "id_bucket", "transform": "bucket[16]"}]},
        }
    )
    b.apply({"action": "set-default-spec", "spec-id": -1})
    spec = b.spec_by_id(b.m["default-spec-id"])
    assert spec["fields"][0]["field-id"] == 1000  # table_metadata.rs:83
    b.apply(
        {
            "action": "add-spec",
            "spec": {"fields": [{"source-id": 2, "name": "name_ident", "transform": "identity"}]},
        }
    )
    assert b.m["partition-specs"][-1]["fields"][0]["field-id"] == 1001


def test_partition_duplicate_name_and_redundant_pair_rejected():
    b = _builder_with_schema()
    with pytest.raises(CommitError):
        b.apply(
            {
                "action": "add-spec",
                "spec": {
                    "fields": [
                        {"source-id": 1, "name": "p", "transform": "identity"},
                        {"source-id": 2, "name": "p", "transform": "identity"},
                    ]
                },
            }
        )
    with pytest.raises(CommitError):
        b.apply(
            {
                "action": "add-spec",
                "spec": {
                    "fields": [
                        {"source-id": 1, "name": "a", "transform": "identity"},
                        {"source-id": 1, "name": "b", "transform": "identity"},
                    ]
                },
            }
        )


def test_reserved_properties_rejected():
    b = _builder_with_schema()
    with pytest.raises(CommitError):
        b.apply({"action": "set-properties", "updates": {"format-version": "3"}})


def test_snapshot_sequence_strictly_increasing():
    b = _builder_with_schema()
    b.build()
    b.apply({"action": "add-snapshot", "snapshot": {"snapshot-id": 1, "sequence-number": 1}})
    with pytest.raises(CommitError):
        b.apply({"action": "add-snapshot", "snapshot": {"snapshot-id": 2, "sequence-number": 1}})


def test_snapshot_before_schema_rejected():
    b = TableMetadataBuilder()
    with pytest.raises(CommitError):
        b.apply({"action": "add-snapshot", "snapshot": {"snapshot-id": 1}})


def test_main_ref_drives_current_snapshot_and_log():
    b = _builder_with_schema()
    b.build()
    b.apply({"action": "add-snapshot", "snapshot": {"snapshot-id": 7, "sequence-number": 1}})
    b.apply({"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": 7})
    assert b.m["current-snapshot-id"] == 7
    assert [e["snapshot-id"] for e in b.m["snapshot-log"]] == [7]
    b.apply({"action": "remove-snapshot-ref", "ref-name": "main"})
    assert b.m["current-snapshot-id"] is None
    assert b.m["snapshot-log"] == []


def test_remove_snapshots_drops_dangling_refs():
    b = _builder_with_schema()
    b.build()
    b.apply({"action": "add-snapshot", "snapshot": {"snapshot-id": 1, "sequence-number": 1}})
    b.apply({"action": "set-snapshot-ref", "ref-name": "tag1", "snapshot-id": 1, "type": "tag"})
    b.apply({"action": "remove-snapshots", "snapshot-ids": [1]})
    assert b.m["refs"] == {}


def test_expired_snapshots_leave_the_snapshot_log():
    """Expiring a snapshot drops its snapshot-log entry and all history
    before it (Iceberg Java's updateSnapshotLog), so a table whose every
    commit expires the previous snapshot keeps one entry, not one per
    commit ever made."""
    b = _builder_with_schema()
    b.build()
    for snap in range(1, 6):
        b.apply({"action": "add-snapshot", "snapshot": {"snapshot-id": snap}})
        b.apply({"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": snap})
        if snap > 1:
            b.apply({"action": "remove-snapshots", "snapshot-ids": [snap - 1]})
    assert [s["snapshot-id"] for s in b.m["snapshots"]] == [5]
    assert [e["snapshot-id"] for e in b.m["snapshot-log"]] == [5]
    # an entry in the middle gone: everything before it goes too
    for snap in (6, 7, 8):
        b.apply({"action": "add-snapshot", "snapshot": {"snapshot-id": snap}})
        b.apply({"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": snap})
    b.apply({"action": "remove-snapshots", "snapshot-ids": [6]})
    assert [e["snapshot-id"] for e in b.m["snapshot-log"]] == [7, 8]
    # removing a snapshot that was never current leaves the log alone
    b.apply({"action": "add-snapshot", "snapshot": {"snapshot-id": 9}})
    b.apply({"action": "remove-snapshots", "snapshot-ids": [9]})
    assert [e["snapshot-id"] for e in b.m["snapshot-log"]] == [7, 8]


def test_location_immutable_post_create():
    b = _builder_with_schema()
    with pytest.raises(CommitError):
        b.apply({"action": "set-location", "location": "file:///elsewhere"})


def test_build_injects_default_spec_and_order():
    b = _builder_with_schema()
    m = b.build()
    assert m["default-spec-id"] == 0 and m["partition-specs"][0]["fields"] == []
    assert m["default-sort-order-id"] == 0 and m["sort-orders"][0]["fields"] == []


# ---------------------------------------------------------- requirements

def test_requirements_matrix():
    b = _builder_with_schema()
    m = b.build()
    assert_requirement({"type": "assert-create"}, None)
    with pytest.raises(CommitError):
        assert_requirement({"type": "assert-create"}, m)
    assert_requirement({"type": "assert-table-uuid", "uuid": m["table-uuid"]}, m)
    with pytest.raises(CommitError):
        assert_requirement({"type": "assert-table-uuid", "uuid": "nope"}, m)
    assert_requirement({"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": None}, m)
    b.apply({"action": "add-snapshot", "snapshot": {"snapshot-id": 5, "sequence-number": 1}})
    b.apply({"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": 5})
    assert_requirement({"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": 5}, b.m)
    with pytest.raises(CommitError):
        assert_requirement(
            {"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": 4}, b.m
        )
    with pytest.raises(CommitError):  # ref must not exist
        assert_requirement(
            {"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": None}, b.m
        )


# ----------------------------------------------------------------- store

@pytest.fixture()
def store():
    s = CatalogStore()
    wid = s.create_warehouse("p1", "wh", "file:///tmp/wh")
    s.create_namespace(wid, ["ns1"])
    return s, wid


def test_reserved_namespace_rejected(store):
    s, wid = store
    with pytest.raises(ValidationError):
        s.create_namespace(wid, ["system"])
    with pytest.raises(ValidationError):
        s.drop_namespace(wid, ["examples"])


def test_namespace_depth_limit(store):
    s, wid = store
    with pytest.raises(ValidationError):
        s.create_namespace(wid, ["a", "b"])  # MAX_NAMESPACE_DEPTH = 1


def test_namespace_location_property_rejected(store):
    s, wid = store
    with pytest.raises(ValidationError):
        s.create_namespace(wid, ["ns2"], {"location": "file:///x"})
    with pytest.raises(ValidationError):
        s.update_namespace_properties(wid, ["ns1"], [], {"location": "file:///x"})


def test_namespace_case_insensitive_conflict(store):
    s, wid = store
    with pytest.raises(ConflictError):
        s.create_namespace(wid, ["NS1"])  # case-insensitive collation


def test_drop_nonempty_namespace_conflicts(store):
    s, wid = store
    s.create_table(wid, ["ns1"], "t", SCHEMA)
    with pytest.raises(ConflictError):
        s.drop_namespace(wid, ["ns1"])


def _race_before_txn(monkeypatch, s, race) -> None:
    """Run ``race`` once, just before the store's next write transaction
    is entered: a deterministic stand-in for another request landing
    between a check and the write it guards."""
    real_txn = s._txn
    raced = []

    def racing_txn():
        if not raced:
            raced.append(True)
            race()
        return real_txn()

    monkeypatch.setattr(s, "_txn", racing_txn)


def test_drop_namespace_race_with_create_table_is_409(store, monkeypatch):
    """A table created between drop_namespace's emptiness check and its
    DELETE must give NamespaceNotEmpty (409), not the foreign key's
    IntegrityError (500): the count runs inside the transaction."""
    s, wid = store
    _race_before_txn(monkeypatch, s, lambda: s.create_table(wid, ["ns1"], "t", SCHEMA))
    with pytest.raises(NamespaceNotEmptyError):
        s.drop_namespace(wid, ["ns1"])
    assert s.list_tables(wid, ["ns1"])[0] == ["t"]


def _race_catalog(root):
    """Warehouse ``wh`` with namespaces ns1 (holding table t) and ns2
    (empty), and an empty warehouse ``empty``."""
    s = CatalogStore()
    wids = {name: s.create_warehouse("p", name, f"file://{root}/{name}")
            for name in ("wh", "empty")}
    s.create_namespace(wids["wh"], ["ns1"])
    s.create_namespace(wids["wh"], ["ns2"])
    s.create_table(wids["wh"], ["ns1"], "t", SCHEMA)
    return s, wids


def _catalog_state(s, root) -> tuple:
    return (
        sorted(s._conn.execute("SELECT name, status FROM warehouse")),
        sorted(s._conn.execute("SELECT name_key FROM namespace")),
        sorted(s._conn.execute(
            "SELECT n.name_key, t.name FROM tbl t JOIN namespace n USING (namespace_id)")),
        len(list(root.rglob("*.metadata.json"))),
    )


@pytest.mark.parametrize(
    "op,race,error",
    [
        pytest.param(
            lambda s, w: s.create_namespace(w["empty"], ["ns"]),
            lambda s, w: s.delete_warehouse(w["empty"]),
            NotFoundError,
            id="create_namespace-delete_warehouse",
        ),
        pytest.param(
            lambda s, w: s.create_table(w["wh"], ["ns2"], "t", SCHEMA),
            lambda s, w: s.drop_namespace(w["wh"], ["ns2"]),
            NamespaceNotFoundError,
            id="create_table-drop_namespace",
        ),
        pytest.param(
            lambda s, w: s.create_table(w["wh"], ["ns1"], "t2", SCHEMA),
            lambda s, w: s.set_warehouse_status(w["wh"], "inactive"),
            ConflictError,
            id="create_table-deactivate_warehouse",
        ),
        pytest.param(
            lambda s, w: s.rename_table(w["wh"], ["ns1"], "t", ["ns2"], "u"),
            lambda s, w: s.drop_namespace(w["wh"], ["ns2"]),
            NamespaceNotFoundError,
            id="rename_table-drop_destination_namespace",
        ),
        pytest.param(
            lambda s, w: s.rename_table(w["wh"], ["ns1"], "t", ["ns1"], "u"),
            lambda s, w: s.drop_table(w["wh"], ["ns1"], "t"),
            TableNotFoundError,
            id="rename_table-drop_table",
        ),
        pytest.param(
            lambda s, w: s.drop_table(w["wh"], ["ns1"], "t"),
            lambda s, w: s.rename_table(w["wh"], ["ns1"], "t", ["ns1"], "u"),
            TableNotFoundError,
            id="drop_table-rename_table",
        ),
        pytest.param(
            lambda s, w: s.drop_table(w["wh"], ["ns1"], "t"),
            lambda s, w: s.drop_table(w["wh"], ["ns1"], "t"),
            TableNotFoundError,
            id="drop_table-drop_table",
        ),
        pytest.param(
            lambda s, w: s.drop_namespace(w["wh"], ["ns2"]),
            lambda s, w: s.drop_namespace(w["wh"], ["ns2"]),
            NamespaceNotFoundError,
            id="drop_namespace-drop_namespace",
        ),
    ],
)
def test_write_sees_a_racing_call_as_finished_before_it(tmp_path, monkeypatch, op, race, error):
    """Every write resolves its names and checks its preconditions inside
    the transaction that writes, so a call that lands just before that
    transaction gives the outcome (error, rows and metadata files) it
    gives when it finishes before the operation starts."""
    s, wids = _race_catalog(tmp_path / "serial")
    race(s, wids)
    with pytest.raises(error) as serial:
        op(s, wids)
    expected = _catalog_state(s, tmp_path / "serial")

    s, wids = _race_catalog(tmp_path / "raced")
    _race_before_txn(monkeypatch, s, lambda: race(s, wids))
    with pytest.raises(error) as raced:
        op(s, wids)
    assert type(raced.value) is type(serial.value)
    assert _catalog_state(s, tmp_path / "raced") == expected


def test_catalog_server_and_client_import_no_spark():
    """The catalog server and client are stdlib-only: importing them
    loads neither pyspark nor numpy."""
    code = (
        "import sys\n"
        "import iceberg_rest_server_spark.catalog.server\n"
        "import iceberg_rest_server_spark.catalog.client\n"
        "print(sorted(m for m in ('pyspark', 'numpy') if m in sys.modules))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, check=True,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert out.stdout.strip() == "[]"


def test_concurrent_namespace_property_updates_are_not_lost(store, monkeypatch):
    s, wid = store
    _race_before_txn(
        monkeypatch, s, lambda: s.update_namespace_properties(wid, ["ns1"], [], {"a": "1"})
    )
    s.update_namespace_properties(wid, ["ns1"], [], {"b": "2"})
    assert s.load_namespace(wid, ["ns1"])["properties"] == {"a": "1", "b": "2"}


@pytest.mark.parametrize("rotate", ["update_storage_credential", "set_storage_profile"])
def test_concurrent_credential_rotations_leave_one_secret(store, monkeypatch, rotate):
    """Two rotations racing each other: each reads the old secret id
    inside its transaction, so the loser deletes the winner's secret
    instead of stranding it beside the one it writes."""
    s, wid = store
    profile = {"region": "r", "bucket": "b"}
    s.set_storage_profile(wid, {**profile, "access-key-id": "k1", "secret-access-key": "x1"})

    def rotation(key):
        creds = {"access-key-id": key, "secret-access-key": "x"}
        if rotate == "update_storage_credential":
            return lambda: s.update_storage_credential(wid, creds)
        return lambda: s.set_storage_profile(wid, {**profile, **creds})

    _race_before_txn(monkeypatch, s, rotation("k2"))
    rotation("k3")()
    assert s._conn.execute("SELECT count(*) FROM secret").fetchone()[0] == 1
    assert s.get_storage_credentials(wid)["access-key-id"] == "k3"


def test_rejected_duplicate_create_leaves_no_metadata_file(tmp_path):
    s = CatalogStore()
    wid = s.create_warehouse("p", "wh", f"file://{tmp_path}/wh")
    s.create_namespace(wid, ["ns"])
    s.create_table(wid, ["ns"], "t", SCHEMA)
    for _ in range(3):
        with pytest.raises(TableAlreadyExistsError):
            s.create_table(wid, ["ns"], "t", SCHEMA)
    assert len(list(tmp_path.rglob("*.metadata.json"))) == 1


def test_table_property_keys_must_be_lowercase(store):
    s, wid = store
    with pytest.raises(ValidationError):
        s.create_table(wid, ["ns1"], "t", SCHEMA, properties={"MyKey": "v"})


def test_client_location_rejected(store):
    s, wid = store
    with pytest.raises(ValidationError):
        s.create_table(wid, ["ns1"], "t", SCHEMA, location="file:///custom")


def test_staged_table_invisible_and_overwritable(store):
    """Stage-create contract (postgres/table.rs:855-860)."""
    s, wid = store
    s.create_table(wid, ["ns1"], "t", SCHEMA, stage_create=True)
    assert s.list_tables(wid, ["ns1"])[0] == []          # staged filtered from list
    with pytest.raises(NotFoundError):
        s.load_table(wid, ["ns1"], "t")               # staged 404 on load
    # a second stage-create over a staged row is allowed…
    s.create_table(wid, ["ns1"], "t", SCHEMA, stage_create=True)
    # …and a real create over a staged row is allowed
    s.create_table(wid, ["ns1"], "t", SCHEMA)
    assert s.list_tables(wid, ["ns1"])[0] == ["t"]
    # but creating over a committed table conflicts
    with pytest.raises(ConflictError):
        s.create_table(wid, ["ns1"], "t", SCHEMA)


def test_rename_within_and_across_namespaces(store):
    s, wid = store
    s.create_namespace(wid, ["ns2"])
    s.create_table(wid, ["ns1"], "t", SCHEMA)
    s.rename_table(wid, ["ns1"], "t", ["ns1"], "t2")
    assert s.list_tables(wid, ["ns1"])[0] == ["t2"]
    s.rename_table(wid, ["ns1"], "t2", ["ns2"], "t3")
    assert s.list_tables(wid, ["ns2"])[0] == ["t3"]
    assert s.list_tables(wid, ["ns1"])[0] == []


def test_inactive_warehouse_blocks_create(store):
    s, wid = store
    s.set_warehouse_status(wid, "inactive")
    with pytest.raises(NotFoundError):
        s.get_warehouse_by_name("p1", "wh")  # active-only lookup
    with pytest.raises(ConflictError):
        s.create_table(wid, ["ns1"], "t", SCHEMA)


def test_multi_table_commit_atomic(store):
    """One failing requirement aborts every change (catalog/tables.rs:746-962)."""
    s, wid = store
    s.create_table(wid, ["ns1"], "a", SCHEMA)
    s.create_table(wid, ["ns1"], "b", SCHEMA)
    ok = {"action": "set-properties", "updates": {"k": "v"}}
    with pytest.raises(CommitError):
        s.commit_transaction(
            wid,
            [
                {"namespace": ["ns1"], "name": "a", "requirements": [], "updates": [ok]},
                {
                    "namespace": ["ns1"],
                    "name": "b",
                    "requirements": [{"type": "assert-table-uuid", "uuid": "wrong"}],
                    "updates": [ok],
                },
            ],
        )
    # table a must be untouched
    assert json.loads(s.load_table(wid, ["ns1"], "a")["metadata"])["properties"] == {}
    # and a valid commit applies to both
    s.commit_transaction(
        wid,
        [
            {"namespace": ["ns1"], "name": "a", "requirements": [], "updates": [ok]},
            {"namespace": ["ns1"], "name": "b", "requirements": [], "updates": [ok]},
        ],
    )
    assert json.loads(s.load_table(wid, ["ns1"], "b")["metadata"])["properties"] == {"k": "v"}


def _metadata_files(root) -> set:
    return {str(p) for p in root.rglob("*.metadata.json")}


def _append(snapshot_id: int) -> list[dict]:
    return [
        {"action": "add-snapshot",
         "snapshot": {"snapshot-id": snapshot_id, "summary": {"operation": "append"}}},
        {"action": "set-snapshot-ref", "ref-name": "main",
         "snapshot-id": snapshot_id, "type": "branch"},
    ]


def test_failed_multi_table_commit_writes_no_file(tmp_path):
    """Every requirement is asserted and every new metadata version built
    before any file is written: a 4-table transaction that fails on the
    4th table's assert-ref-snapshot-id leaves neither a metadata file nor
    a changed row behind."""
    s = CatalogStore()
    wid = s.create_warehouse("p1", "wh", f"file://{tmp_path}")
    s.create_namespace(wid, ["ns1"])
    names = ["a", "b", "c", "d"]
    for name in names:
        s.create_table(wid, ["ns1"], name, SCHEMA)
    before_files = _metadata_files(tmp_path)
    before_rows = {n: s.load_table(wid, ["ns1"], n) for n in names}
    changes = [
        {"namespace": ["ns1"], "name": n,
         "requirements": [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": None}],
         "updates": _append(i + 1)}
        for i, n in enumerate(names)
    ]
    changes[-1]["requirements"][0]["snapshot-id"] = 12345  # main does not exist: 409
    with pytest.raises(CommitError):
        s.commit_transaction(wid, changes)
    assert _metadata_files(tmp_path) == before_files
    assert {n: s.load_table(wid, ["ns1"], n) for n in names} == before_rows
    # the same transaction with a true requirement writes one file per table
    changes[-1]["requirements"][0]["snapshot-id"] = None
    s.commit_transaction(wid, changes)
    assert len(_metadata_files(tmp_path) - before_files) == len(names)


def test_commit_encodes_metadata_once(tmp_path, monkeypatch):
    """A single-table commit JSON-encodes its new metadata exactly once,
    with the one-shot encoder, and that one text is both the gzip file's
    content and the row's."""
    import gzip
    import json

    from iceberg_rest_server_spark.catalog.io import read_metadata_file, local_path

    s = CatalogStore(str(tmp_path / "catalog.sqlite"))
    wid = s.create_warehouse("p1", "wh", f"file://{tmp_path}/wh")
    s.create_namespace(wid, ["ns1"])
    s.create_table(wid, ["ns1"], "t", SCHEMA)

    encoded = []
    dumps = json.dumps

    def counting_dumps(obj, *args, **kwargs):
        if isinstance(obj, dict) and "table-uuid" in obj:
            encoded.append(obj)
        return dumps(obj, *args, **kwargs)

    def no_dump(*args, **kwargs):
        raise AssertionError("json.dump streams through the pure-Python encoder")

    monkeypatch.setattr(json, "dumps", counting_dumps)
    monkeypatch.setattr(json, "dump", no_dump)
    (result,) = s.commit_transaction(
        wid, [{"namespace": ["ns1"], "name": "t", "requirements": [], "updates": _append(1)}]
    )
    monkeypatch.undo()
    assert len(encoded) == 1

    location = result["metadata-location"]
    row_text = s._table_row(None, wid, ["ns1"], "t")[1]
    with open(local_path(location), "rb") as fh:
        assert gzip.decompress(fh.read()).decode("utf-8") == row_text
    assert read_metadata_file(location) == json.loads(s.load_table(wid, ["ns1"], "t")["metadata"])


# ----------------------------------------------------------------- reads

class _PausedWriter:
    """Stands in for the store's writer connection: a commit's second
    ``UPDATE tbl`` waits until ``resume`` is set, so the commit holds
    its first table's new row uncommitted; with ``fail`` the second
    UPDATE then raises, and the commit rolls back."""

    def __init__(self, conn, fail: bool = False):
        self._conn, self._fail = conn, fail
        self._updates = 0
        self.paused, self.resume = threading.Event(), threading.Event()

    def execute(self, sql, *args):
        if sql.startswith("UPDATE tbl"):
            self._updates += 1
            if self._updates == 2:
                self.paused.set()
                assert self.resume.wait(10)
                if self._fail:
                    raise sqlite3.OperationalError("disk I/O error")
        return self._conn.execute(sql, *args)

    def __getattr__(self, name):
        return getattr(self._conn, name)


def _pause_two_table_commit(s, wid, monkeypatch, fail: bool):
    """Start a commit of tables a and b on a thread and return once it
    has updated a's row; returns the writer stand-in, the thread, the
    commit's outcome list and the locations before the commit."""
    for name in ("a", "b"):
        s.create_table(wid, ["ns1"], name, SCHEMA)
    before = {n: s.load_table(wid, ["ns1"], n)["metadata-location"] for n in ("a", "b")}
    writer = _PausedWriter(s._conn, fail)
    monkeypatch.setattr(s, "_conn", writer)
    change = {"requirements": [], "updates": [{"action": "set-properties", "updates": {"k": "v"}}]}
    outcome = []

    def commit():
        try:
            outcome.append(s.commit_transaction(
                wid, [{"namespace": ["ns1"], "name": n, **change} for n in ("a", "b")]))
        except sqlite3.OperationalError as e:
            outcome.append(e)

    thread = threading.Thread(target=commit)
    thread.start()
    assert writer.paused.wait(10)
    return writer, thread, outcome, before


def test_load_during_a_commit_sees_neither_table_changed(store, monkeypatch):
    """A load that lands between the two UPDATEs of a two-table commit
    returns the pre-commit location of either table, without waiting
    for the commit; once the commit is acknowledged, both new ones."""
    s, wid = store
    writer, thread, outcome, before = _pause_two_table_commit(s, wid, monkeypatch, fail=False)
    try:
        for name in ("a", "b"):
            assert s.load_table(wid, ["ns1"], name)["metadata-location"] == before[name]
    finally:
        writer.resume.set()
        thread.join(10)
    (results,) = outcome
    after = [s.load_table(wid, ["ns1"], n)["metadata-location"] for n in ("a", "b")]
    assert after == [r["metadata-location"] for r in results]


def test_rolled_back_commit_is_never_read(store, monkeypatch):
    """The same pause, then a failure that rolls the commit back: no load,
    during the commit or after it, returns the rolled-back location."""
    s, wid = store
    writer, thread, outcome, before = _pause_two_table_commit(s, wid, monkeypatch, fail=True)
    try:
        during = {n: s.load_table(wid, ["ns1"], n)["metadata-location"] for n in ("a", "b")}
    finally:
        writer.resume.set()
        thread.join(10)
    assert isinstance(outcome[0], sqlite3.OperationalError)
    assert during == before
    assert {n: s.load_table(wid, ["ns1"], n)["metadata-location"] for n in ("a", "b")} == before


def test_interleaved_commits_and_loads_keep_the_wal_bounded(tmp_path):
    """2,000 single-table commits, each followed by a load, on one file
    store: every load returns the commit just acknowledged, and the WAL
    file never outgrows one auto-checkpoint interval (a read transaction
    left open between calls would both stale the loads and let the WAL
    grow with every commit)."""
    path = str(tmp_path / "catalog.sqlite")
    s = CatalogStore(path)
    wid = s.create_warehouse("p1", "wh", f"file://{tmp_path}/wh")
    s.create_namespace(wid, ["ns1"])
    s.create_table(wid, ["ns1"], "t", SCHEMA)
    frames, page_size = (
        s._reader.execute(f"PRAGMA {p}").fetchone()[0] for p in ("wal_autocheckpoint", "page_size")
    )
    bound = (frames + 10) * (page_size + 24) + 32  # frame header 24 B, file header 32 B
    largest = 0
    for i in range(2000):
        (result,) = s.commit_transaction(wid, [{
            "namespace": ["ns1"], "name": "t", "requirements": [],
            "updates": [{"action": "set-properties", "updates": {"i": str(i)}}],
        }])
        assert s.load_table(wid, ["ns1"], "t")["metadata-location"] == result["metadata-location"]
        largest = max(largest, os.path.getsize(path + "-wal"))
    assert 0 < largest <= bound


def test_private_store_leaves_no_file():
    s = CatalogStore()
    path = s._reader.execute("PRAGMA database_list").fetchone()[2]
    s.create_warehouse("p1", "wh", "file:///tmp/wh")
    assert os.path.exists(path) and os.path.exists(path + "-wal")
    del s
    gc.collect()
    assert [p for p in (path, path + "-wal", path + "-shm") if os.path.exists(p)] == []


def test_resolve_by_location_probes_the_location_index(store, monkeypatch):
    """The prefix-only sign route's lookup searches idx_tbl_loc with the
    location's prefixes, not every table of the warehouse."""
    s, wid = store
    for i in range(20):
        s.create_table(wid, ["ns1"], f"t{i}", SCHEMA)
    location = s.load_table(wid, ["ns1"], "t7")["table-location"]
    statements = []
    rows = s._rows

    def recording_rows(c, sql, params=()):
        statements.append((sql, params))
        return rows(c, sql, params)

    monkeypatch.setattr(s, "_rows", recording_rows)
    found = s.resolve_table_by_location(wid, location + "/data/f.parquet")
    assert found["table-location"] == location
    ((sql, params),) = statements
    plan = [r[3] for r in s._reader.execute("EXPLAIN QUERY PLAN " + sql, params)]
    assert any("USING INDEX idx_tbl_loc (table_location=?)" in step for step in plan), plan


# ------------------------------------------------------------------ HTTP

def test_rest_roundtrip_and_error_codes():
    with ServerThread() as server:
        c = RestCatalogClient(server.base_url)
        c.create_warehouse("p1", "wh", "file:///tmp/wh-rest")
        c.configure("p1", "wh")
        c.create_namespace(["ns"], {"owner": "me"})
        assert c.list_namespaces() == [["ns"]]
        assert c.load_namespace(["ns"])["properties"] == {"owner": "me"}
        out = c.update_namespace_properties(["ns"], removals=["owner"], updates={"x": "1"})
        assert out["removed"] == ["owner"] and out["updated"] == ["x"]

        c.create_table(["ns"], "t", SCHEMA)
        assert c.list_tables(["ns"]) == ["t"]
        loaded = c.load_table(["ns"], "t")
        assert loaded["metadata"]["current-schema-id"] == 0

        # 404 on missing table, with error envelope
        with pytest.raises(CatalogHTTPError) as e:
            c.load_table(["ns"], "missing")
        assert e.value.code == 404

        # 409 on duplicate create
        with pytest.raises(CatalogHTTPError) as e:
            c.create_table(["ns"], "t", SCHEMA)
        assert e.value.code == 409

        # 400 on bad property key
        with pytest.raises(CatalogHTTPError) as e:
            c.create_table(["ns"], "t2", SCHEMA, properties={"BadKey": "v"})
        assert e.value.code == 400

        # commit with failing CAS → 409
        with pytest.raises(CatalogHTTPError) as e:
            c.commit_table(
                ["ns"], "t",
                [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": 123}],
                [{"action": "set-properties", "updates": {"k": "v"}}],
            )
        assert e.value.code == 409

        # register_table → 501 parity; the route lives UNDER a namespace
        # (/v1/{prefix}/namespaces/{ns}/register — this test previously
        # probed a nonexistent prefix-level path and pinned the 501 to
        # the wrong route; the r9 OpenAPI route-coverage test caught it)
        with pytest.raises(CatalogHTTPError) as e:
            c._request(
                "POST",
                f"/catalog/v1/{c.prefix}/namespaces/ns_a/register",
                {"name": "x", "metadata-location": "file:///m.json"},
            )
        assert e.value.code == 501

        # ...but POST-only (ADVICE r9): the reference registers the
        # route with axum `post()` (catalog/tables.rs:211), so a GET on
        # the same path is an unrouted 404 there, never 501
        with pytest.raises(CatalogHTTPError) as e:
            c._request("GET", f"/catalog/v1/{c.prefix}/namespaces/ns_a/register", None)
        assert e.value.code == 404

        # oauth tokens → 501 parity (api/iceberg/v1/oauth.rs:22-33 routes
        # to a Service trait no crate implements)
        with pytest.raises(CatalogHTTPError) as e:
            c._request("POST", "/catalog/v1/oauth/tokens", {"grant_type": "client_credentials"})
        assert e.value.code == 501

        # metrics accepted and discarded
        c.report_metrics(["ns"], "t", {"report-type": "scan-report"})

        c.rename_table(["ns"], "t", ["ns"], "t2")
        assert c.list_tables(["ns"]) == ["t2"]

        # pagination: real tokens (the reference accepts but never pages)
        for i in range(5):
            c.create_table(["ns"], f"p{i}", SCHEMA)
        page1 = c._request("GET", f"/catalog/v1/{c.prefix}/namespaces/ns/tables?pageSize=3")
        assert len(page1["identifiers"]) == 3 and page1["next-page-token"] is not None
        page2 = c._request(
            "GET",
            f"/catalog/v1/{c.prefix}/namespaces/ns/tables?pageSize=3&pageToken={page1['next-page-token']}",
        )
        assert len(page2["identifiers"]) == 3 and page2["next-page-token"] is None
        names = [i["name"] for i in page1["identifiers"] + page2["identifiers"]]
        assert names == sorted(names) and len(names) == 6

        for i in range(5):
            c.drop_table(["ns"], f"p{i}")
        c.drop_table(["ns"], "t2")
        c.drop_namespace(["ns"])


def test_delete_warehouse_empty_then_404(store):
    """DELETE /warehouse/{id}: non-empty → 409 WarehouseNotEmpty, empty →
    gone, and the attached secret dies with it (management/mod.rs:259-295,
    postgres/warehouse.rs:269-299)."""
    s, wid = store
    with pytest.raises(WarehouseNotEmptyError):
        s.delete_warehouse(wid)  # ns1 exists from the fixture
    s.drop_namespace(wid, ["ns1"])
    s.set_storage_profile(
        wid,
        {"region": "r", "bucket": "b", "access-key-id": "k", "secret-access-key": "x"},
    )
    secret_id = s.get_warehouse(wid)["storage_profile"]["storage-secret-id"]
    s.delete_warehouse(wid)
    with pytest.raises(NotFoundError):
        s.get_warehouse(wid)
    assert s._conn.execute(
        "SELECT count(*) FROM secret WHERE secret_id = ?", (secret_id,)
    ).fetchone()[0] == 0
    with pytest.raises(NotFoundError):
        s.delete_warehouse(wid)  # idempotence is NOT promised: 404 like the reference


def test_update_storage_credential_rotates_only_secret(store):
    """POST /warehouse/{id}/storage-credential keeps the profile bytes,
    swaps the secret, deletes the old one; None detaches
    (management/v1/warehouse.rs:391-441)."""
    s, wid = store
    with pytest.raises(ValidationError):
        s.update_storage_credential(wid, {"access-key-id": "k"})  # no profile yet
    s.set_storage_profile(
        wid,
        {"region": "r", "bucket": "b", "access-key-id": "k1", "secret-access-key": "x1"},
    )
    before = s.get_warehouse(wid)["storage_profile"]
    old_secret = before["storage-secret-id"]
    s.update_storage_credential(
        wid, {"access-key-id": "k2", "secret-access-key": "x2"}
    )
    after = s.get_warehouse(wid)["storage_profile"]
    assert after["storage-secret-id"] != old_secret
    assert {k: v for k, v in after.items() if k != "storage-secret-id"} == {
        k: v for k, v in before.items() if k != "storage-secret-id"
    }  # profile untouched — no immutability trip
    assert s.get_storage_credentials(wid)["access-key-id"] == "k2"
    assert s._conn.execute(
        "SELECT count(*) FROM secret WHERE secret_id = ?", (old_secret,)
    ).fetchone()[0] == 0
    with pytest.raises(ValidationError):
        s.update_storage_credential(wid, {"not-a-key": "v"})
    # None detaches the credential entirely
    s.update_storage_credential(wid, None)
    assert "storage-secret-id" not in s.get_warehouse(wid)["storage_profile"]
    assert s.get_storage_credentials(wid) == {}


def test_warehouse_delete_and_credential_routes_http():
    """Route-level: DELETE 200/409/404 and storage-credential 200 over
    HTTP (management/mod.rs:268-292 router shape; Result<()> handlers
    answer 200 with an empty body — axum IntoResponse for unit)."""
    with ServerThread() as server:
        c = RestCatalogClient(server.base_url)
        wid = c.create_warehouse("p", "wh", "s3://bucket-a/prefix")
        credential = {"type": "s3", "credential-type": "access-key"}
        c._request(
            "POST",
            f"/management/v1/warehouse/{wid}/storage",
            {
                "storage-profile": {"type": "s3", "region": "r", "bucket": "bucket-a"},
                "storage-credential": {
                    **credential, "aws-access-key-id": "k", "aws-secret-access-key": "x",
                },
            },
        )
        c._request(
            "POST",
            f"/management/v1/warehouse/{wid}/storage-credential",
            {
                "new-storage-credential": {
                    **credential, "aws-access-key-id": "k2", "aws-secret-access-key": "x2",
                },
            },
        )
        assert server.store.get_storage_credentials(wid)["access-key-id"] == "k2"
        c.configure("p", "wh")
        c.create_namespace(["ns"])
        with pytest.raises(CatalogHTTPError) as ei:
            c._request("DELETE", f"/management/v1/warehouse/{wid}")
        assert ei.value.code == 409
        assert ei.value.error_type == "WarehouseNotEmpty"
        c.drop_namespace(["ns"])
        c._request("DELETE", f"/management/v1/warehouse/{wid}")
        with pytest.raises(CatalogHTTPError) as ei:
            c._request("GET", f"/management/v1/warehouse/{wid}")
        assert ei.value.code == 404


def test_health_route_and_cli():
    """GET /health answers outside the auth layer (api/router.rs:53);
    the CLI's healthcheck/version/migrate commands mirror
    iceberg-catalog-bin (main.rs:29-39)."""
    import json as _json
    import urllib.request

    from iceberg_rest_server_spark.catalog.__main__ import main as cli_main
    from iceberg_rest_server_spark.catalog.server import ServerThread

    with ServerThread() as server:
        with urllib.request.urlopen(f"{server.base_url}/health") as resp:
            assert resp.status == 200
            assert _json.loads(resp.read())["status"] == "ok"
        assert cli_main(["healthcheck", "--url", server.base_url]) == 0
    assert cli_main(["healthcheck", "--url", "http://127.0.0.1:1"]) == 1
    assert cli_main(["version"]) == 0
    assert cli_main(["migrate"]) == 0


def test_health_route_bypasses_token_auth():
    """With an OIDC verifier configured every route 401s without a
    bearer token — except /health, which the reference mounts outside
    the middleware."""
    import urllib.error
    import urllib.request

    from iceberg_rest_server_spark.catalog.auth import TokenVerifier
    from iceberg_rest_server_spark.catalog.server import ServerThread

    class _RejectAll(TokenVerifier):
        def __init__(self):
            pass

        def verify(self, token):
            from iceberg_rest_server_spark.catalog.store import UnauthorizedError

            raise UnauthorizedError("no")

    with ServerThread(verifier=_RejectAll()) as server:
        with urllib.request.urlopen(f"{server.base_url}/health") as resp:
            assert resp.status == 200
        try:
            urllib.request.urlopen(f"{server.base_url}/management/v1/project")
            raise AssertionError("expected 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401


def test_scrub_strips_exactly_the_pinned_keys():
    """Contract pin for _scrub_metadata_nulls (VERDICT r9 #4): the
    null-scrub may strip ONLY the keys in SCRUBBED_NULL_KEYS (+ the
    top-level metadata-location special case). Any new null-valued
    metadata key must survive to the wire — where the OpenAPI response
    validator fails loudly — rather than be silently eaten. If this
    test fails because a new key needs scrubbing, add it to
    SCRUBBED_NULL_KEYS *and* to the expected set here deliberately."""
    from iceberg_rest_server_spark.catalog.server import (
        SCRUBBED_NULL_KEYS,
        _scrub_metadata_nulls,
    )

    # the pinned set itself is part of the contract
    assert SCRUBBED_NULL_KEYS == {"current-snapshot-id", "parent-snapshot-id"}

    payload = {
        "metadata-location": None,
        "metadata": {
            "current-snapshot-id": None,          # stripped (pinned)
            "some-future-nullable-field": None,   # must SURVIVE
            "properties": {"owner": None},        # must SURVIVE (user data)
            "snapshots": [
                {"snapshot-id": 1, "parent-snapshot-id": None},  # stripped
                {"snapshot-id": 2, "parent-snapshot-id": 1},
            ],
            "refs": {},
        },
    }
    out = _scrub_metadata_nulls(payload)
    assert "metadata-location" not in out
    assert "current-snapshot-id" not in out["metadata"]
    assert "parent-snapshot-id" not in out["metadata"]["snapshots"][0]
    # non-null pinned keys are never touched
    assert out["metadata"]["snapshots"][1]["parent-snapshot-id"] == 1
    # unknown nulls survive so the OpenAPI validator can see them
    assert out["metadata"]["some-future-nullable-field"] is None
    assert out["metadata"]["properties"] == {"owner": None}

    # exhaustive: diff the stripped key-paths against the pinned set
    def paths(node, prefix=""):
        found = set()
        if isinstance(node, dict):
            for k, v in node.items():
                found |= {f"{prefix}{k}"} | paths(v, f"{prefix}{k}.")
        elif isinstance(node, list):
            for i, x in enumerate(node):
                found |= paths(x, f"{prefix}{i}.")
        return found

    stripped = {p.rsplit(".", 1)[-1] for p in paths(payload) - paths(out)}
    assert stripped == SCRUBBED_NULL_KEYS | {"metadata-location"}
