"""Iceberg TableMetadata aggregate: updates (§2B) + requirements (§2C).

A from-scratch Python implementation of the semantics the reference
implements in Rust (`iceberg-ext/src/spec/table_metadata.rs:82-906` and
`crates/iceberg-ext/src/catalog/rest/table.rs:92-325`) — behavior parity,
not a translation. Metadata is a plain dict in Iceberg table-metadata V2
JSON shape; the builder applies TableUpdate operations while enforcing
the reference's invariants:

- AssignUuid idempotent; reassignment rejected on commit
  (table_metadata.rs:155-162; postgres/table.rs:728-737)
- UpgradeFormatVersion: V1→V2 only, downgrade = conflict
  (table_metadata.rs:168-189)
- AddSchema: last_column_id never regresses; structural dedup; ids +1
  (table_metadata.rs:257-322)
- SetCurrentSchema: -1 = last added (table_metadata.rs:340-422)
- AddSpec/SetDefaultSpec: partition field ids allocated from 1000
  (table_metadata.rs:83,428-532; partition_binder.rs:23-24)
- AddSortOrder/SetDefaultSortOrder: unsorted reuses order id 0
  (table_metadata.rs:538-636)
- AddSnapshot: sequence numbers strictly increasing (V2), unique ids
  (table_metadata.rs:642-709)
- SetSnapshotRef: `main` drives current_snapshot_id + snapshot_log
  (table_metadata.rs:741-795)
- SetLocation rejected post-create (table_metadata.rs:239-248)
- SetProperties: 9 reserved keys rejected (table_metadata.rs:86-96,211-233)
- build() injects unpartitioned spec 0 / unsorted order 0
  (table_metadata.rs:841-862)
"""

from __future__ import annotations

import time
import uuid
from typing import Any

PARTITION_FIELD_ID_START = 1000  # table_metadata.rs:83
MAIN_BRANCH = "main"

RESERVED_PROPERTIES = {  # table_metadata.rs:86-96
    "format-version",
    "uuid",
    "snapshot-count",
    "current-snapshot-summary",
    "current-snapshot-id",
    "current-snapshot-timestamp-ms",
    "current-schema",
    "default-partition-spec",
    "default-sort-order",
}


class CommitError(Exception):
    """409-style conflict: a requirement failed or an update is illegal."""

    def __init__(self, message: str, error_type: str = "CommitFailedException"):
        super().__init__(message)
        self.error_type = error_type


def _now_ms() -> int:
    return int(time.time() * 1000)


def new_uuid() -> str:
    return str(uuid.uuid4())


class TableMetadataBuilder:
    """Mutable aggregate over an Iceberg V2 table-metadata dict."""

    def __init__(self, metadata: dict[str, Any] | None = None):
        if metadata is None:
            metadata = {
                "format-version": 2,
                "table-uuid": new_uuid(),
                "location": "",
                "last-sequence-number": 0,
                "last-updated-ms": _now_ms(),
                "last-column-id": 0,
                "schemas": [],
                "current-schema-id": -1,
                "partition-specs": [],
                "default-spec-id": -1,
                "last-partition-id": PARTITION_FIELD_ID_START - 1,
                "sort-orders": [],
                "default-sort-order-id": -1,
                "properties": {},
                "snapshots": [],
                "current-snapshot-id": None,
                "snapshot-log": [],
                "metadata-log": [],
                "refs": {},
            }
        self.m = metadata
        self._last_added_schema_id: int | None = None
        self._last_added_spec_id: int | None = None
        self._last_added_order_id: int | None = None
        self._uuid_assigned = False

    # ----------------------------------------------------------- lookups

    def schema_by_id(self, schema_id: int) -> dict | None:
        return next((s for s in self.m["schemas"] if s["schema-id"] == schema_id), None)

    def spec_by_id(self, spec_id: int) -> dict | None:
        return next((s for s in self.m["partition-specs"] if s["spec-id"] == spec_id), None)

    def order_by_id(self, order_id: int) -> dict | None:
        return next((s for s in self.m["sort-orders"] if s["order-id"] == order_id), None)

    def snapshot_by_id(self, snap_id: int) -> dict | None:
        return next((s for s in self.m["snapshots"] if s["snapshot-id"] == snap_id), None)

    # ----------------------------------------------------------- updates

    def apply(self, update: dict[str, Any]) -> "TableMetadataBuilder":
        """Dispatch one TableUpdate (wire shape: {'action': ..., ...}) —
        rest/table.rs:263-325."""
        action = update.get("action")
        handler = {
            "assign-uuid": self._assign_uuid,
            "upgrade-format-version": self._upgrade_format_version,
            "add-schema": self._add_schema,
            "set-current-schema": self._set_current_schema,
            "add-spec": self._add_spec,
            "set-default-spec": self._set_default_spec,
            "add-sort-order": self._add_sort_order,
            "set-default-sort-order": self._set_default_sort_order,
            "add-snapshot": self._add_snapshot,
            "remove-snapshots": self._remove_snapshots,
            "set-snapshot-ref": self._set_snapshot_ref,
            "remove-snapshot-ref": self._remove_snapshot_ref,
            "set-location": self._set_location,
            "set-properties": self._set_properties,
            "remove-properties": self._remove_properties,
        }.get(action)
        if handler is None:
            raise CommitError(f"unsupported update action: {action!r}", "ValidationException")
        handler(update)
        self.m["last-updated-ms"] = _now_ms()
        return self

    def _assign_uuid(self, u: dict) -> None:
        # idempotent set; changing an existing uuid is rejected when the
        # table already exists (guard postgres/table.rs:728-737)
        new = u["uuid"]
        if self._uuid_assigned or self.m.get("table-uuid"):
            if self.m["table-uuid"] != new:
                raise CommitError("cannot reassign table uuid")
        self.m["table-uuid"] = new
        self._uuid_assigned = True

    def _upgrade_format_version(self, u: dict) -> None:
        target = int(u["format-version"])
        current = int(self.m["format-version"])
        if target < current:
            raise CommitError(f"cannot downgrade format version {current} -> {target}")
        if target not in (1, 2):
            raise CommitError(f"unsupported format version {target}", "ValidationException")
        self.m["format-version"] = target

    def _add_schema(self, u: dict) -> None:
        schema = dict(u["schema"])
        declared_last = u.get("last-column-id")
        max_field_id = max(
            (f["id"] for f in schema.get("fields", [])), default=0
        )
        if declared_last is not None and declared_last < self.m["last-column-id"]:
            # last_column_id must not regress (table_metadata.rs:262-272)
            raise CommitError(
                f"last-column-id {declared_last} regresses below {self.m['last-column-id']}"
            )
        # structural dedup: identical field set reuses the existing schema
        for existing in self.m["schemas"]:
            if existing.get("fields") == schema.get("fields"):
                self._last_added_schema_id = existing["schema-id"]
                return
        new_id = max((s["schema-id"] for s in self.m["schemas"]), default=-1) + 1
        schema["schema-id"] = new_id
        self.m["schemas"].append(schema)
        self.m["last-column-id"] = max(
            self.m["last-column-id"], declared_last or 0, max_field_id
        )
        self._last_added_schema_id = new_id

    def _set_current_schema(self, u: dict) -> None:
        sid = int(u["schema-id"])
        if sid == -1:
            if self._last_added_schema_id is None:
                raise CommitError("set-current-schema -1 without add-schema")
            sid = self._last_added_schema_id
        if self.schema_by_id(sid) is None:
            raise CommitError(f"schema {sid} not found", "ValidationException")
        self.m["current-schema-id"] = sid

    def _bind_spec(self, spec: dict) -> dict:
        """Bind partition fields against the current schema: primitive
        source columns only, unique names, fresh field ids from 1000
        (partition_binder.rs:41-227)."""
        schema = self.schema_by_id(self.m["current-schema-id"]) or {"fields": []}
        by_id = {f["id"]: f for f in schema["fields"]}
        # a field with the same (source, transform, name) keeps its id
        # across spec versions; only genuinely new fields get fresh ids
        known_ids = {
            (f["source-id"], f["transform"], f["name"]): f["field-id"]
            for s in self.m["partition-specs"]
            for f in s["fields"]
        }
        names = set()
        seen_source_transform = set()
        bound_fields = []
        next_id = self.m["last-partition-id"] + 1
        for field in spec.get("fields", []):
            src = field["source-id"]
            if src not in by_id:
                raise CommitError(f"partition source field {src} not in schema",
                                  "ValidationException")
            if isinstance(by_id[src].get("type"), dict):
                # struct/list/map source (partition_binder.rs:194-210)
                raise CommitError("partitioning requires a primitive source column",
                                  "ValidationException")
            name = field["name"]
            if name in names:
                raise CommitError(f"duplicate partition name {name!r}", "ValidationException")
            names.add(name)
            key = (src, field["transform"])
            if key in seen_source_transform:
                raise CommitError(
                    f"redundant partition (source={src}, transform={field['transform']})",
                    "ValidationException",
                )
            seen_source_transform.add(key)
            bound = dict(field)
            if "field-id" not in bound:
                existing_id = known_ids.get((src, field["transform"], name))
                if existing_id is not None:
                    bound["field-id"] = existing_id
                else:
                    bound["field-id"] = next_id
                    next_id += 1
            bound_fields.append(bound)
        return {**spec, "fields": bound_fields}

    def _add_spec(self, u: dict) -> None:
        spec = self._bind_spec(dict(u["spec"]))
        for existing in self.m["partition-specs"]:
            if [
                {k: f[k] for k in ("source-id", "transform", "name")} for f in existing["fields"]
            ] == [{k: f[k] for k in ("source-id", "transform", "name")} for f in spec["fields"]]:
                self._last_added_spec_id = existing["spec-id"]
                return
        new_id = max((s["spec-id"] for s in self.m["partition-specs"]), default=-1) + 1
        spec["spec-id"] = new_id
        self.m["partition-specs"].append(spec)
        if spec["fields"]:
            self.m["last-partition-id"] = max(
                self.m["last-partition-id"], max(f["field-id"] for f in spec["fields"])
            )
        self._last_added_spec_id = new_id

    def _set_default_spec(self, u: dict) -> None:
        sid = int(u["spec-id"])
        if sid == -1:
            if self._last_added_spec_id is None:
                raise CommitError("set-default-spec -1 without add-spec")
            sid = self._last_added_spec_id
        if self.spec_by_id(sid) is None:
            raise CommitError(f"partition spec {sid} not found", "ValidationException")
        self.m["default-spec-id"] = sid

    def _add_sort_order(self, u: dict) -> None:
        order = dict(u["sort-order"])
        if not order.get("fields"):
            # unsorted order always has id 0 (table_metadata.rs:538-600)
            self._last_added_order_id = 0
            if self.order_by_id(0) is None:
                self.m["sort-orders"].append({"order-id": 0, "fields": []})
            return
        schema = self.schema_by_id(self.m["current-schema-id"]) or {"fields": []}
        field_ids = {f["id"] for f in schema["fields"]}
        for f in order["fields"]:
            if f["source-id"] not in field_ids:
                raise CommitError(
                    f"sort source field {f['source-id']} not in current schema",
                    "ValidationException",
                )
        for existing in self.m["sort-orders"]:
            if existing["fields"] == order["fields"]:
                self._last_added_order_id = existing["order-id"]
                return
        new_id = max((o["order-id"] for o in self.m["sort-orders"]), default=0) + 1
        order["order-id"] = new_id
        self.m["sort-orders"].append(order)
        self._last_added_order_id = new_id

    def _set_default_sort_order(self, u: dict) -> None:
        oid = int(u["sort-order-id"])
        if oid == -1:
            if self._last_added_order_id is None:
                raise CommitError("set-default-sort-order -1 without add-sort-order")
            oid = self._last_added_order_id
        if self.order_by_id(oid) is None:
            raise CommitError(f"sort order {oid} not found", "ValidationException")
        self.m["default-sort-order-id"] = oid

    def _add_snapshot(self, u: dict) -> None:
        snap = dict(u["snapshot"])
        if not self.m["schemas"]:
            raise CommitError("cannot add snapshot before schema", "ValidationException")
        if self.m["default-spec-id"] < 0:
            raise CommitError("cannot add snapshot before partition spec", "ValidationException")
        if self.m["default-sort-order-id"] < 0:
            raise CommitError("cannot add snapshot before sort order", "ValidationException")
        if self.snapshot_by_id(snap["snapshot-id"]) is not None:
            raise CommitError(f"snapshot id {snap['snapshot-id']} already exists")
        seq = snap.get("sequence-number", self.m["last-sequence-number"] + 1)
        if self.m["format-version"] >= 2 and seq <= self.m["last-sequence-number"]:
            # strictly increasing (table_metadata.rs:682-696)
            raise CommitError(
                f"sequence number {seq} must exceed {self.m['last-sequence-number']}"
            )
        snap["sequence-number"] = seq
        snap.setdefault("timestamp-ms", _now_ms())
        snap.setdefault("schema-id", self.m["current-schema-id"])
        # the spec in force at commit time — file→spec attribution for
        # the .partitions metadata view (Iceberg manifests carry spec-id
        # per file; snapshot-level is exact here because each commit
        # writes files under exactly the then-default spec)
        snap.setdefault("spec-id", self.m["default-spec-id"])
        self.m["snapshots"].append(snap)
        self.m["last-sequence-number"] = seq

    def _remove_snapshots(self, u: dict) -> None:
        ids = set(u["snapshot-ids"])
        self.m["snapshots"] = [s for s in self.m["snapshots"] if s["snapshot-id"] not in ids]
        # drop dangling refs (table_metadata.rs:715-735)
        self.m["refs"] = {
            name: ref for name, ref in self.m["refs"].items() if ref["snapshot-id"] not in ids
        }
        # stored versions omit a null current-snapshot-id (store.py scrub)
        if self.m.get("current-snapshot-id") in ids:
            self.m["current-snapshot-id"] = None
        # an entry whose snapshot is gone drops out, and so does all the
        # history before it, so the log has no gaps (Iceberg Java
        # TableMetadata.Builder.updateSnapshotLog)
        live = {s["snapshot-id"] for s in self.m["snapshots"]}
        log: list[dict] = []
        for entry in self.m["snapshot-log"]:
            if entry["snapshot-id"] in live:
                log.append(entry)
            else:
                log.clear()
        self.m["snapshot-log"] = log

    def _set_snapshot_ref(self, u: dict) -> None:
        name = u["ref-name"]
        snap_id = u["snapshot-id"]
        snap = self.snapshot_by_id(snap_id)
        if snap is None:
            raise CommitError(f"snapshot {snap_id} not found", "ValidationException")
        ref = {"snapshot-id": snap_id, "type": u.get("type", "branch")}
        for k in ("max-ref-age-ms", "max-snapshot-age-ms", "min-snapshots-to-keep"):
            if u.get(k) is not None:
                ref[k] = u[k]
        self.m["refs"][name] = ref
        if name == MAIN_BRANCH:
            # main advances current_snapshot_id + snapshot_log
            # (table_metadata.rs:741-795)
            self.m["current-snapshot-id"] = snap_id
            self.m["snapshot-log"].append(
                {"snapshot-id": snap_id, "timestamp-ms": snap.get("timestamp-ms", _now_ms())}
            )

    def _remove_snapshot_ref(self, u: dict) -> None:
        name = u["ref-name"]
        self.m["refs"].pop(name, None)
        if name == MAIN_BRANCH:
            # main removal resets current + clears log (table_metadata.rs:801-814)
            self.m["current-snapshot-id"] = None
            self.m["snapshot-log"] = []

    def _set_location(self, u: dict) -> None:
        if self.m.get("location"):
            # immutable post-create (table_metadata.rs:239-248;
            # guard postgres/table.rs:738-747)
            raise CommitError("table location is immutable")
        self.m["location"] = u["location"]

    def _set_properties(self, u: dict) -> None:
        updates = u.get("updates", {})
        bad = RESERVED_PROPERTIES & set(updates)
        if bad:
            raise CommitError(
                f"reserved properties cannot be set: {sorted(bad)}", "ValidationException"
            )
        self.m["properties"].update(updates)

    def _remove_properties(self, u: dict) -> None:
        for key in u.get("removals", []):
            self.m["properties"].pop(key, None)

    # ------------------------------------------------------------- build

    def build(self) -> dict[str, Any]:
        """Finalize: inject unpartitioned spec 0 / unsorted order 0 if
        absent (table_metadata.rs:841-862) and default current pointers."""
        if not self.m["schemas"]:
            raise CommitError("table metadata requires at least one schema",
                              "ValidationException")
        if self.m["current-schema-id"] < 0:
            self.m["current-schema-id"] = self.m["schemas"][-1]["schema-id"]
        if self.m["default-spec-id"] < 0:
            if not self.m["partition-specs"]:
                self.m["partition-specs"].append({"spec-id": 0, "fields": []})
            self.m["default-spec-id"] = self.m["partition-specs"][0]["spec-id"]
        if self.m["default-sort-order-id"] < 0:
            if not self.m["sort-orders"]:
                self.m["sort-orders"].append({"order-id": 0, "fields": []})
            self.m["default-sort-order-id"] = self.m["sort-orders"][0]["order-id"]
        return self.m


# --------------------------------------------------------- requirements

def assert_requirement(req: dict[str, Any], metadata: dict[str, Any] | None) -> None:
    """TableRequirement::assert (rest/table.rs:92-248): optimistic CAS
    predicates over current metadata; violations raise CommitError (409)."""
    rtype = req.get("type")
    if rtype == "assert-create":
        if metadata is not None:
            raise CommitError("table must not already exist (assert-create)")
        return
    if metadata is None:
        raise CommitError("table does not exist", "NoSuchTableException")
    refs = metadata.get("refs", {})
    checks = {
        "assert-table-uuid": lambda: metadata["table-uuid"] == req["uuid"],
        "assert-current-schema-id": lambda: metadata["current-schema-id"]
        == req["current-schema-id"],
        "assert-default-sort-order-id": lambda: metadata["default-sort-order-id"]
        == req["default-sort-order-id"],
        "assert-default-spec-id": lambda: metadata["default-spec-id"] == req["default-spec-id"],
        "assert-last-assigned-partition-id": lambda: metadata["last-partition-id"]
        == req["last-assigned-partition-id"],
        "assert-last-assigned-field-id": lambda: metadata["last-column-id"]
        == req["last-assigned-field-id"],
    }
    if rtype in checks:
        if not checks[rtype]():
            raise CommitError(f"requirement failed: {rtype}")
        return
    if rtype == "assert-ref-snapshot-id":
        ref = refs.get(req["ref"])
        want = req.get("snapshot-id")
        if want is None:
            if ref is not None:  # ref must not exist (rest/table.rs:153-189)
                raise CommitError(f"requirement failed: ref {req['ref']!r} must not exist")
            return
        if ref is None or ref["snapshot-id"] != want:
            have = None if ref is None else ref["snapshot-id"]
            raise CommitError(
                f"requirement failed: ref {req['ref']!r} at {have}, expected {want}"
            )
        return
    raise CommitError(f"unknown requirement type {rtype!r}", "ValidationException")
