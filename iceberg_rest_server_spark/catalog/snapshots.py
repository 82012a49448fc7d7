"""The snapshot format, as plain functions over a table-metadata dict.

Both Spark paths over catalog tables call these: `SparkCatalogTable`
(spark_table.py, scans through the JVM parquet reader) and the
``iceberg_rest`` Data Source (datasource.py, pyarrow per file). They
differ only in how rows move; every decision about snapshots is made
here, once:

- which snapshot a read targets (explicit id, ref, or current) and
  which schema it binds — time travel binds the snapshot's schema;
- the manifest: one JSON file list per snapshot (its
  ``manifest-list``), next to the data, so the metadata document stays
  O(snapshots), not O(files);
- the commit: manifest + add-snapshot + set-snapshot-ref, CAS-guarded
  on the branch head — the reference's DML flow (SURVEY.md §3.3);
- the incremental diff: files appended between two snapshots of one
  parent chain, for batch and streaming incremental reads alike;
- file pruning on the path-encoded ``p<field-id>=<value>`` tuples.

No other module of the package reads, writes or deletes a manifest
(`tests/test_plans.py::test_manifest_io_has_one_owner`).
"""

from __future__ import annotations

import datetime
import json
import os
import time
import urllib.parse
import uuid
from typing import Any

import numpy as np

from .client import RestCatalogClient
from .io import local_path
from .metadata import MAIN_BRANCH


def schema(metadata: dict, schema_id: int | None = None) -> dict:
    """The schema with ``schema_id``; by default the table's current one."""
    if schema_id is None:
        schema_id = metadata["current-schema-id"]
    return next(s for s in metadata["schemas"] if s["schema-id"] == schema_id)


def fields_by_id(metadata: dict) -> dict[int, dict]:
    """Every field id of every schema version, the newest definition
    winning — partition sources may be columns dropped since."""
    out: dict[int, dict] = {}
    for s in sorted(metadata["schemas"], key=lambda s: s["schema-id"]):
        for f in s["fields"]:
            out[f["id"]] = f
    return out


def resolve_snapshot(
    metadata: dict, snapshot_id: int | None = None, ref: str | None = None
) -> dict | None:
    """The snapshot with ``snapshot_id``, else ``ref``'s head, else the
    current one; None when the table has no snapshot yet."""
    if snapshot_id is None and ref is not None:
        r = metadata["refs"].get(ref)
        if r is None:
            raise KeyError(f"ref {ref!r} not found")
        snapshot_id = r["snapshot-id"]
    if snapshot_id is None:
        snapshot_id = metadata.get("current-snapshot-id")
    if snapshot_id is None:
        return None
    snap = next((s for s in metadata["snapshots"] if s["snapshot-id"] == snapshot_id), None)
    if snap is None:
        raise KeyError(f"snapshot {snapshot_id} not found")
    return snap


def resolve_read(
    metadata: dict, snapshot_id: int | None = None, ref: str | None = None
) -> tuple[dict | None, dict]:
    """(snapshot, schema) a read binds. Time-travel reads (an explicit
    snapshot id, or a tag) bind the *snapshot's* schema-id (Iceberg
    spec; the reference tracks schema-id per snapshot) — else after
    ADD/DROP COLUMN a `VERSION AS OF` read would apply the current
    schema to old files. Branch reads keep the table's current schema,
    like Iceberg: branches are write targets, and the DML paths
    (merge/delete/compact) read the branch head before rewriting."""
    snap = resolve_snapshot(metadata, snapshot_id, ref)
    time_travel = snapshot_id is not None or (
        ref is not None and metadata["refs"][ref].get("type") == "tag"
    )
    if time_travel and snap is not None and snap.get("schema-id") is not None:
        return snap, schema(metadata, snap["schema-id"])
    return snap, schema(metadata)


# ---------------------------------------------------------------- manifests


def read_manifest(snapshot: dict) -> list[str]:
    """The data files of ``snapshot`` (its full file set, not a delta)."""
    with open(local_path(snapshot["manifest-list"])) as fh:
        return json.load(fh)["files"]


def commit_snapshot(
    client: RestCatalogClient,
    namespace: list[str],
    name: str,
    metadata: dict,
    new_files: list[str],
    operation: str,
    branch: str = MAIN_BRANCH,
    summary_extra: dict[str, str] | None = None,
) -> int:
    """Publish ``new_files`` as one snapshot on ``branch``: ``append``
    keeps the head's files, ``overwrite`` replaces them. The manifest is
    written first, then ONE commit — add-snapshot + set-snapshot-ref,
    guarded by assert-ref-snapshot-id on the head ``metadata`` saw
    (optimistic CAS, rest/table.rs:153-189): a concurrent writer turns it
    into a 409, never lost data. ``summary_extra`` lands in the snapshot
    summary. Returns the new snapshot id."""
    files = list(new_files)
    if operation == "append":
        head = resolve_snapshot(metadata, ref=branch if branch in metadata["refs"] else None)
        if head is not None:
            files = read_manifest(head) + files
    snapshot_id = uuid.uuid4().int % (1 << 62)
    manifest = os.path.join(
        local_path(metadata["location"]), "metadata", f"manifest-{snapshot_id}.json"
    )
    os.makedirs(os.path.dirname(manifest), exist_ok=True)
    with open(manifest, "w") as fh:
        json.dump({"files": files}, fh)
    parent = metadata["refs"].get(branch)
    parent_id = None if parent is None else parent["snapshot-id"]
    summary = {"operation": operation, "added-files": str(len(new_files))}
    summary.update(summary_extra or {})
    snapshot = {
        "snapshot-id": snapshot_id,
        "parent-snapshot-id": parent_id,
        "timestamp-ms": int(time.time() * 1000),
        "operation": operation,
        "manifest-list": manifest,
        "summary": summary,
    }
    client.commit_table(
        namespace,
        name,
        [{"type": "assert-ref-snapshot-id", "ref": branch, "snapshot-id": parent_id}],
        [
            {"action": "add-snapshot", "snapshot": snapshot},
            {"action": "set-snapshot-ref", "ref-name": branch, "snapshot-id": snapshot_id,
             "type": "branch"},
        ],
    )
    return snapshot_id


def delete_unreferenced(expired: list[dict], retained: list[dict]) -> int:
    """After ``expired`` left the metadata: delete the data files no
    ``retained`` snapshot references, and the expired manifests. Our
    manifests list each snapshot's full file set, so this is a plain set
    difference — metadata-scale work, no data scan. Returns the number
    of data files deleted."""
    kept = {f for s in retained for f in read_manifest(s)}
    deleted = 0
    for s in expired:
        for f in read_manifest(s):
            if f not in kept and os.path.exists(f):
                os.remove(f)
                deleted += 1
        os.remove(local_path(s["manifest-list"]))
    return deleted


# ------------------------------------------------------------- parent chain


def ancestor_ids(metadata: dict, snapshot_id: int | None) -> list[int]:
    """``snapshot_id`` and its parents, newest first, up to the root (or
    the first parent no longer in the metadata)."""
    by_id = {s["snapshot-id"]: s for s in metadata["snapshots"]}
    out: list[int] = []
    while snapshot_id in by_id:
        out.append(snapshot_id)
        snapshot_id = by_id[snapshot_id].get("parent-snapshot-id")
    return out


def appended_files(metadata: dict, from_id: int | None, to_id: int) -> list[str]:
    """Data files added strictly after ``from_id`` (None: before the
    first snapshot) up to and including ``to_id``: walk the parent chain
    back from ``to_id``, then diff each snapshot's manifest against its
    parent's — metadata-scale work, so the data scan touches only the
    added files. The one rule set for incremental reads, batch and
    streaming; ValueError, checked in this order, when
    - ``from_id`` is not an ancestor of ``to_id`` (a rollback rewrote
      history) — walking on to the root would re-deliver the whole table;
    - a snapshot the diff needs has expired;
    - a snapshot in the range is not an append — an overwrite's
      row-level delta is not recoverable from an append-only file diff,
      and a snapshot without an operation cannot be shown to be one."""
    by_id = {s["snapshot-id"]: s for s in metadata["snapshots"]}
    chain: list[dict] = []
    cur: int | None = to_id
    while cur != from_id:
        if cur is None:
            raise ValueError(
                f"snapshot {from_id} is not an ancestor of {to_id}: table history "
                "was rewritten (rollback?)"
            )
        snap = by_id.get(cur)
        if snap is None:
            raise ValueError(f"snapshot {cur} expired from history before it was read")
        chain.append(snap)
        cur = snap.get("parent-snapshot-id")
    if from_id is not None and from_id not in by_id:
        raise ValueError(f"snapshot {from_id} expired from history before it was read")
    for snap in chain:
        op = snap.get("operation") or snap.get("summary", {}).get("operation")
        if op != "append":
            raise ValueError(
                f"incremental read hit a {op!r} snapshot ({snap['snapshot-id']}); "
                "only an append-only history can be read incrementally"
            )
    seen = set() if from_id is None else set(read_manifest(by_id[from_id]))
    added: list[str] = []
    for snap in reversed(chain):  # oldest → newest
        files = read_manifest(snap)
        added.extend(f for f in files if f not in seen)
        seen = set(files)
    return added


# ---------------------------------------------------------------- pruning


def _partition_values(path: str) -> dict[int, str]:
    """Parse the hive-layout ``p<partition-field-id>=<value>`` segments
    out of a data file path (SparkCatalogTable._write_files writes them)."""
    out: dict[int, str] = {}
    for seg in path.split(os.sep):
        key, eq, val = seg.partition("=")
        if eq and key.startswith("p") and key[1:].isdigit():
            out[int(key[1:])] = urllib.parse.unquote(val)
    return out


def _transform_literal(transform: str, value: Any, ice_type: str) -> str:
    """Python evaluation of an Iceberg partition transform on one
    literal, stringified the way Spark stringifies hive partition-dir
    values — the comparison key for file pruning. Mirrors the Column
    transforms in operators/transforms.py exactly."""
    from ..operators.transforms import _murmur3_32_8bytes_le, _murmur3_32_bytes

    if transform == "identity":
        return str(value)
    if transform.startswith("bucket["):
        n = int(transform[len("bucket[") : -1])
        if ice_type == "string":
            h = _murmur3_32_bytes(str(value).encode())
        else:
            h = int(_murmur3_32_8bytes_le(np.array([int(value)], dtype=np.int64))[0])
        return str((h & 0x7FFFFFFF) % n)
    if transform.startswith("truncate["):
        w = int(transform[len("truncate[") : -1])
        if ice_type == "string":
            return str(value)[:w]
        v = int(value)
        return str(v - (v % w))
    ts = value
    if isinstance(ts, str):
        ts = datetime.datetime.fromisoformat(ts)
    if transform in ("year", "years"):
        return str(ts.year - 1970)
    if transform in ("month", "months"):
        return str((ts.year - 1970) * 12 + ts.month - 1)
    if transform in ("day", "days"):
        d = ts.date() if isinstance(ts, datetime.datetime) else ts
        return str((d - datetime.date(1970, 1, 1)).days)
    if transform in ("hour", "hours"):
        epoch = ts.replace(tzinfo=datetime.timezone.utc).timestamp()
        return str(int(epoch // 3600))
    raise ValueError(f"unknown transform {transform!r}")


def prune(metadata: dict, files: list[str], eq: dict[str, Any]) -> list[str]:
    """The ``files`` that may hold rows with ``column == value`` for every
    ``eq`` item — Iceberg's manifest-level pruning. A predicate prunes
    through EVERY partition field (of any spec) whose source column it
    names, so it works across partition-spec evolution; a file without a
    ``p<id>=`` segment for that field (written before partitioning) is
    conservatively kept, and predicates on other columns prune nothing.
    File-granular, not row-exact: callers still filter the rows."""
    fields = fields_by_id(metadata)
    expect: dict[int, str] = {}
    for spec in metadata.get("partition-specs", []):
        for pf in spec.get("fields", []):
            src = fields.get(pf["source-id"])
            if src is not None and src["name"] in eq:
                expect[pf["field-id"]] = _transform_literal(
                    pf["transform"], eq[src["name"]], src["type"]
                )
    if not expect:
        return list(files)

    def keep(path: str) -> bool:
        got = _partition_values(path)
        return all(got.get(fid) in (None, want) for fid, want in expect.items())

    return [f for f in files if keep(f)]
