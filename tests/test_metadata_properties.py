"""Property-based tests (hypothesis): the metadata builder's invariants
hold under arbitrary interleavings of valid updates — the class of bug
SURVEY.md §7 ranks hardest ('easy to silently corrupt')."""

from __future__ import annotations

import copy
import gzip
import http.client
import json
import tempfile
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_rest_server_spark.catalog import metadata as metadata_mod
from iceberg_rest_server_spark.catalog import store as store_mod
from iceberg_rest_server_spark.catalog.io import local_path
from iceberg_rest_server_spark.catalog.metadata import (
    PARTITION_FIELD_ID_START,
    TableMetadataBuilder,
)
from iceberg_rest_server_spark.catalog.server import (
    SCRUBBED_NULL_KEYS,
    ServerThread,
    _scrub_metadata_nulls,
)

BASE_SCHEMA = {
    "type": "struct",
    "fields": [
        {"id": 1, "name": "c1", "required": False, "type": "long"},
        {"id": 2, "name": "c2", "required": False, "type": "string"},
    ],
}


def fresh_builder() -> TableMetadataBuilder:
    b = TableMetadataBuilder()
    b.apply({"action": "set-location", "location": "file:///tmp/x"})
    b.apply({"action": "add-schema", "schema": dict(BASE_SCHEMA)})
    b.apply({"action": "set-current-schema", "schema-id": -1})
    b.build()
    return b


update_op = st.sampled_from(["add_column", "snapshot", "tag", "props", "spec"])


@settings(max_examples=60, deadline=None)
@given(st.lists(update_op, min_size=1, max_size=25))
def test_invariants_hold_under_update_sequences(ops):
    b = fresh_builder()
    next_col = 3
    next_snap = 1
    for op in ops:
        if op == "add_column":
            schema = b.schema_by_id(b.m["current-schema-id"])
            new = {
                "type": "struct",
                "fields": schema["fields"]
                + [{"id": next_col, "name": f"c{next_col}", "required": False, "type": "int"}],
            }
            b.apply({"action": "add-schema", "schema": new, "last-column-id": next_col})
            b.apply({"action": "set-current-schema", "schema-id": -1})
            next_col += 1
        elif op == "snapshot":
            b.apply(
                {
                    "action": "add-snapshot",
                    "snapshot": {"snapshot-id": next_snap, "sequence-number": next_snap},
                }
            )
            b.apply(
                {"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": next_snap}
            )
            next_snap += 1
        elif op == "tag" and b.m["current-snapshot-id"] is not None:
            b.apply(
                {
                    "action": "set-snapshot-ref",
                    "ref-name": f"tag{next_snap}",
                    "snapshot-id": b.m["current-snapshot-id"],
                    "type": "tag",
                }
            )
        elif op == "props":
            b.apply({"action": "set-properties", "updates": {f"k{next_snap}": "v"}})
        elif op == "spec":
            fields = [
                {
                    "source-id": 1,
                    "transform": f"bucket[{4 + next_snap % 3}]",
                    "name": f"p{next_snap}_{next_col}",
                }
            ]
            b.apply({"action": "add-spec", "spec": {"fields": fields}})
            b.apply({"action": "set-default-spec", "spec-id": -1})

    m = b.build()
    # invariants (table_metadata.rs contracts):
    schema_ids = [s["schema-id"] for s in m["schemas"]]
    assert len(schema_ids) == len(set(schema_ids))
    assert m["current-schema-id"] in schema_ids
    assert m["last-column-id"] >= max(
        f["id"] for s in m["schemas"] for f in s["fields"]
    )
    seqs = [s["sequence-number"] for s in m["snapshots"]]
    assert seqs == sorted(seqs) and len(seqs) == len(set(seqs))
    assert m["last-sequence-number"] == (max(seqs) if seqs else 0)
    for name, ref in m["refs"].items():
        assert b.snapshot_by_id(ref["snapshot-id"]) is not None
    if "main" in m["refs"]:
        assert m["current-snapshot-id"] == m["refs"]["main"]["snapshot-id"]
    part_ids = [f["field-id"] for s in m["partition-specs"] for f in s["fields"]]
    assert all(pid >= PARTITION_FIELD_ID_START for pid in part_ids)
    assert m["last-partition-id"] >= max(part_ids, default=PARTITION_FIELD_ID_START - 1)
    spec_ids = [s["spec-id"] for s in m["partition-specs"]]
    assert len(spec_ids) == len(set(spec_ids))
    assert m["default-spec-id"] in spec_ids


def _recursive_scrub(payload: dict) -> dict:
    """The scrub the server used before it looked only where the pinned
    keys occur: every dict under ``metadata``, at any depth, loses its
    null-valued SCRUBBED_NULL_KEYS. Kept here as the reference."""
    from iceberg_rest_server_spark.catalog.server import SCRUBBED_NULL_KEYS

    def scrub(node):
        if isinstance(node, dict):
            return {
                k: scrub(v)
                for k, v in node.items()
                if not (v is None and k in SCRUBBED_NULL_KEYS)
            }
        if isinstance(node, list):
            return [scrub(x) for x in node]
        return node

    out = dict(payload)
    if isinstance(out.get("metadata"), dict):
        out["metadata"] = scrub(out["metadata"])
    if "metadata-location" in out and out["metadata-location"] is None:
        del out["metadata-location"]
    if isinstance(out.get("results"), list):
        out["results"] = [
            r if not isinstance(r, dict) else _recursive_scrub(r) for r in out["results"]
        ]
    return out


history_op = st.sampled_from(
    ["append", "orphan", "remove_current", "remove_main", "tag", "props", "null_prop"]
)


@settings(max_examples=80, deadline=None)
@given(st.lists(history_op, min_size=0, max_size=20), st.booleans())
def test_targeted_scrub_matches_recursive_scrub(ops, staged):
    """The server strips null `current-snapshot-id` at the top level and
    null `parent-snapshot-id` in each snapshot only; over builder
    histories (first snapshots with no parent, snapshots committed off
    the branch, the current snapshot removed, main dropped) that is
    exactly what the recursive scrub stripped: the response body is the
    same byte for byte, and the input is left untouched."""
    b = fresh_builder()
    next_snap = 1
    for op in ops:
        current = b.m["current-snapshot-id"]
        if op in ("append", "orphan"):
            # an orphan starts a new lineage: its parent is None
            parent = current if op == "append" else None
            b.apply({"action": "add-snapshot", "snapshot": {
                "snapshot-id": next_snap, "parent-snapshot-id": parent,
                "summary": {"operation": "append"}}})
            if op == "append":
                b.apply({"action": "set-snapshot-ref", "ref-name": "main",
                         "snapshot-id": next_snap})
            next_snap += 1
        elif op == "remove_current" and current is not None:
            b.apply({"action": "remove-snapshots", "snapshot-ids": [current]})
        elif op == "remove_main":
            b.apply({"action": "remove-snapshot-ref", "ref-name": "main"})
        elif op == "tag" and current is not None:
            b.apply({"action": "set-snapshot-ref", "ref-name": f"tag{next_snap}",
                     "snapshot-id": current, "type": "tag"})
        elif op == "props":
            b.apply({"action": "set-properties", "updates": {f"k{next_snap}": "v"}})
        elif op == "null_prop":
            # a null that is not a pinned key must survive both scrubs
            b.apply({"action": "set-properties", "updates": {"owner": None}})
    # the wire payload is built from the stored row, as load_table does
    metadata = json.loads(json.dumps(b.build()))
    location = None if staged else "file:///tmp/x/metadata/v.gz.metadata.json"
    payloads = [
        {"metadata": metadata, "metadata-location": location},
        {"results": [{"metadata": metadata, "metadata-location": location}]},
    ]
    for payload in payloads:
        before = copy.deepcopy(payload)
        out, expected = _scrub_metadata_nulls(payload), _recursive_scrub(payload)
        assert out == expected
        assert json.dumps(out) == json.dumps(expected)  # same bytes on the wire
        assert payload == before


def _history_updates(op: str, current: int | None, next_snap: int) -> list[dict]:
    """The updates one history op commits, given the current snapshot."""
    if op in ("append", "orphan"):
        # an orphan starts a new lineage: its parent is None
        snap = {"snapshot-id": next_snap, "parent-snapshot-id": current if op == "append" else None,
                "summary": {"operation": "append"}}
        updates = [{"action": "add-snapshot", "snapshot": snap}]
        if op == "append":
            updates.append({"action": "set-snapshot-ref", "ref-name": "main",
                            "snapshot-id": next_snap})
        return updates
    if op == "remove_current" and current is not None:
        return [{"action": "remove-snapshots", "snapshot-ids": [current]}]
    if op == "remove_main":
        return [{"action": "remove-snapshot-ref", "ref-name": "main"}]
    if op == "tag" and current is not None:
        return [{"action": "set-snapshot-ref", "ref-name": f"tag{next_snap}",
                 "snapshot-id": current, "type": "tag"}]
    if op == "props":
        return [{"action": "set-properties", "updates": {f"k{next_snap}": "v"}}]
    if op == "null_prop":
        return [{"action": "set-properties", "updates": {"owner": None}}]
    return []


@pytest.fixture(scope="module")
def catalog_server():
    with ServerThread() as server:
        yield server


@settings(max_examples=40, deadline=None)
@given(st.lists(history_op, min_size=0, max_size=12), st.booleans())
def test_spliced_table_bodies_match_the_scrubbed_payload(catalog_server, ops, staged):
    """The create (staged or committed), single-table commit and load
    responses splice the stored text into the envelope. Over builder
    histories each body parses to exactly what the scrub makes of the
    payload dict the server used to encode — the unscrubbed version,
    replayed here through the builder from the created one — and its raw
    ``metadata`` member is the row's text, which is also what the
    metadata file gunzips to."""
    built = []

    class Capturing(TableMetadataBuilder):
        def build(self):
            out = super().build()
            built.append(json.dumps(out))  # unscrubbed, as the old row held it
            return out

    with tempfile.TemporaryDirectory() as tmp, \
            mock.patch.object(metadata_mod, "_now_ms", lambda: 1_700_000_000_000), \
            mock.patch.object(store_mod, "TableMetadataBuilder", Capturing):
        store = catalog_server.store
        wid = store.create_warehouse("p", tmp, f"file://{tmp}")
        store.create_namespace(wid, ["ns"])
        tables = f"/catalog/v1/{wid}/namespaces/ns/tables"
        conn = http.client.HTTPConnection("127.0.0.1", catalog_server.port, timeout=10)

        def exchange(method: str, path: str, body: dict | None = None) -> str:
            conn.request(method, path, None if body is None else json.dumps(body))
            resp = conn.getresponse()
            raw = resp.read().decode()
            assert resp.status == 200, raw
            return raw

        def check(raw: str, old_row: str, **rest) -> None:
            _, row_text, location, _, _ = store._table_row(None, wid, ["ns"], "t")
            payload = {"metadata": json.loads(old_row), "metadata-location": location, **rest}
            assert json.loads(raw) == _scrub_metadata_nulls(payload)
            member = '{"metadata": '
            assert raw.startswith(member + row_text)
            if location is not None:
                with open(local_path(location), "rb") as fh:
                    assert gzip.decompress(fh.read()).decode("utf-8") == row_text

        raw = exchange("POST", tables, {"name": "t", "schema": BASE_SCHEMA, "stage-create": staged})
        (old_row,) = built
        check(raw, old_row)
        next_snap = 1
        for op in ops:
            reference = TableMetadataBuilder(json.loads(old_row))
            updates = _history_updates(op, reference.m.get("current-snapshot-id"), next_snap)
            next_snap += 1
            if not updates:
                continue
            for update in updates:
                reference.apply(update)
            old_row = json.dumps(reference.build())
            raw = exchange("POST", f"{tables}/t", {"requirements": [], "updates": updates})
            check(raw, old_row)
        if not staged or store._table_row(None, wid, ["ns"], "t")[2] is not None:
            check(exchange("GET", f"{tables}/t"), old_row, config={})
        conn.close()
