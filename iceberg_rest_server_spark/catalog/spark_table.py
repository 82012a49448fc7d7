"""Spark ⇄ catalog table layer: snapshot-isolated parquet tables whose
every metadata mutation goes through the REST commit protocol.

This replaces what `iceberg-spark-runtime` + the reference provide
together (conftest.py:204-226): Spark executors write parquet data
files; the *commit* — AddSnapshot + SetSnapshotRef(main) with an
optimistic CAS requirement — goes through the catalog server, exactly
like the reference's DML flow (SURVEY.md §3.3). Reads resolve a
snapshot (current, tag, branch, or explicit id), load its manifest and
hand Spark the parquet paths — scan planning, pushdown and pruning stay
fully inside Catalyst.

Every snapshot decision (resolution and schema binding, manifests, the
CAS commit, the incremental diff, partition pruning) is made in
snapshots.py, which the ``iceberg_rest`` Data Source shares; this
module only moves the data, through the JVM parquet reader and writer.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import snapshots
from .client import CatalogHTTPError, RestCatalogClient
from .io import local_path
from .metadata import MAIN_BRANCH

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
    "binary": "binary",
}

_ICEBERG_TO_SPARK = {
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
}


def iceberg_schema_from_spark(schema: T.StructType) -> dict:
    """Spark StructType → Iceberg schema dict with sequential field ids."""
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        tname = f.dataType.simpleString()
        if tname not in _SPARK_TO_ICEBERG:
            raise ValueError(f"unsupported type for catalog table: {tname}")
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": not f.nullable,
                "type": _SPARK_TO_ICEBERG[tname],
            }
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


def spark_schema_from_iceberg(schema: dict) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f["name"], _ICEBERG_TO_SPARK[f["type"]], not f.get("required", False))
            for f in schema["fields"]
        ]
    )


class SparkCatalogTable:
    """Handle to one catalog table usable from a SparkSession."""

    def __init__(
        self,
        spark: SparkSession,
        client: RestCatalogClient,
        namespace: list[str],
        name: str,
    ):
        self.spark = spark
        self.client = client
        self.namespace = namespace
        self.name = name

    # ------------------------------------------------------------ helpers

    def _load(self) -> dict:
        return self.client.load_table(self.namespace, self.name)["metadata"]

    @staticmethod
    def _snapshot_files(metadata: dict, snapshot: dict) -> list[str]:
        return snapshots.read_manifest(snapshot)

    _resolve_snapshot = staticmethod(snapshots.resolve_snapshot)

    # -------------------------------------------------------------- write

    def _apply_write_order(self, df: DataFrame, metadata: dict) -> DataFrame:
        """WRITE ORDERED BY parity (SURVEY §1.2 sort orders → Spark
        `sortWithinPartitions` on write): rows inside each data file are
        laid out per the table's default sort order, enabling min/max
        file skipping without a global sort's extra shuffle."""
        order = next(
            (
                o
                for o in metadata.get("sort-orders", [])
                if o["order-id"] == metadata.get("default-sort-order-id")
            ),
            None,
        )
        if not order or not order.get("fields"):
            return df
        by_id = {f["id"]: f["name"] for f in snapshots.schema(metadata)["fields"]}
        cols = []
        for f in order["fields"]:
            name = by_id.get(f["source-id"])
            if name is None or name not in df.columns:
                continue
            c = F.col(name)
            c = c.desc() if f.get("direction") == "desc" else c.asc()
            cols.append(c)
        return df.sortWithinPartitions(*cols) if cols else df

    def _apply_write_distribution(self, df: DataFrame, metadata: dict) -> DataFrame:
        """Iceberg `write.distribution-mode=hash`: when the table has a
        partition spec, cluster rows by the partition expressions before
        writing. Without this, at scale every write task holds rows of
        every partition and a P-partition table gets tasks×P small files
        per commit; with it each partition's rows land in ~one task."""
        exprs = [c for _, c in self._partition_columns(df, metadata)]
        return df.repartition(*exprs) if exprs else df

    def _write_files(self, df: DataFrame, metadata: dict) -> list[str]:
        """Data files use *field-id* column names (``f<id>``), mapping the
        table's display names at the read/write boundary — Iceberg's
        field-id addressing (SURVEY §1.2). This is what makes special
        characters in column names work (parquet rejects ``' ;{}()='``
        etc., test_spark.py:169-178) and gives drop/re-add-column the
        correct semantics: a re-added name gets a fresh id, so old data
        is not resurrected."""
        data_dir = os.path.join(local_path(metadata["location"]), "data", uuid.uuid4().hex)
        df = self._apply_write_distribution(df, metadata)
        df = self._apply_write_order(df, metadata)
        by_name = {f["name"]: f["id"] for f in snapshots.schema(metadata)["fields"]}
        renamed = [
            df[name].alias(f"f{by_name[name]}") if name in by_name else df[name]
            for name in df.columns
        ]
        # Partitioned tables write hive-layout directories keyed by the
        # TRANSFORMED partition values (`p<field-id>=<value>`): one file
        # per partition per task, and the exact partition tuple is encoded
        # in the path — which is what manifests record and scans prune on
        # (Iceberg manifests' per-file partition tuple, path-encoded).
        # The p-columns are computed extras, so partitionBy drops only
        # them; every f<id> data column stays in the file.
        pcols = self._partition_columns(df, metadata)
        safe = df.select(*renamed, *[c.alias(n) for n, c in pcols])
        if pcols:
            safe.write.mode("overwrite").partitionBy([n for n, _ in pcols]).parquet(data_dir)
        else:
            safe.write.mode("overwrite").parquet(data_dir)
        return sorted(
            os.path.join(root, f)
            for root, _, files in os.walk(data_dir)
            for f in files
            if f.endswith(".parquet")
        )

    def _partition_columns(self, df: DataFrame, metadata: dict) -> list[tuple[str, Any]]:
        """(`p<partition-field-id>`, Column) pairs: the transformed
        partition value of each row under the default spec."""
        spec = next(
            (
                s
                for s in metadata.get("partition-specs", [])
                if s["spec-id"] == metadata.get("default-spec-id")
            ),
            None,
        )
        if not spec or not spec.get("fields"):
            return []
        by_id = {f["id"]: f for f in snapshots.schema(metadata)["fields"]}
        out = []
        for pf in spec["fields"]:
            src = by_id.get(pf["source-id"])
            if src is None or src["name"] not in df.columns:
                continue
            expr = self._partition_expr(pf["transform"], F.col(src["name"]), src["type"])
            out.append((f"p{pf['field-id']}", expr))
        return out

    def _commit(
        self,
        new_files: list[str],
        operation: str,
        branch: str,
        summary_extra: dict[str, str] | None,
    ) -> int:
        """One CAS-retried snapshot commit of already-written files."""
        return self._retry_cas(
            lambda: snapshots.commit_snapshot(
                self.client, self.namespace, self.name, self._load(), new_files,
                operation, branch, summary_extra,
            )
        )

    def append(
        self,
        df: DataFrame,
        branch: str = MAIN_BRANCH,
        summary_extra: dict[str, str] | None = None,
    ) -> int:
        """INSERT INTO semantics: new snapshot = branch head files + new
        files (AppendData → AddSnapshot, SURVEY.md §2E). `summary_extra`
        lands in the snapshot summary (streaming sinks use it to record
        epoch ids for exactly-once replay)."""
        new_files = self._write_files(df, self._load())
        return self._commit(new_files, "append", branch, summary_extra)

    def overwrite(
        self,
        df: DataFrame,
        branch: str = MAIN_BRANCH,
        summary_extra: dict[str, str] | None = None,
    ) -> int:
        """INSERT OVERWRITE / rewrite semantics: snapshot holds only the
        new files (rewrite_data_files compaction uses this too).
        `summary_extra` lands in the snapshot summary — the streaming
        upsert sink records its (query-id, epoch-id) there."""
        new_files = self._write_files(df, self._load())
        return self._commit(new_files, "overwrite", branch, summary_extra)

    def create_or_replace(self, df: DataFrame) -> int:
        """CREATE OR REPLACE TABLE ... AS semantics (writeTo(...)
        .createOrReplace(), test_spark.py:56-62): table identity and
        history are preserved, the current schema becomes ``df``'s
        schema, and the data is replaced.

        Every replaced column gets a FRESH field id (continuing from
        last-column-id), so no old data file can misbind to a new column
        through field-id addressing. Two CAS commits (schema, then
        overwrite); between them a reader sees the new schema over the
        old snapshot — all-null backfill, never wrong values. The
        reference swaps staged metadata atomically; end state matches.
        """
        metadata = self._load()
        base = metadata["last-column-id"]
        fields = [
            {
                "id": base + i + 1,
                "name": f.name,
                "type": _SPARK_TO_ICEBERG[f.dataType.simpleString()],
                "required": not f.nullable,
            }
            for i, f in enumerate(df.schema.fields)
        ]
        schema = {"type": "struct", "schema-id": 0, "fields": fields}
        self.client.commit_table(
            self.namespace,
            self.name,
            [{"type": "assert-table-uuid", "uuid": metadata["table-uuid"]}],
            [
                {"action": "add-schema", "schema": schema,
                 "last-column-id": base + len(fields)},
                {"action": "set-current-schema", "schema-id": -1},
            ],
        )
        return self.overwrite(df)

    def _retry_cas(self, attempt, retries: int = 3) -> int:
        """Iceberg-style commit retry: data files are written once; on a
        409 (another writer advanced the branch head between our metadata
        load and the CAS commit) only the metadata swap is retried against
        the fresh head. Applied to append/overwrite, whose outcomes are
        independent of the loser's snapshot; read-modify-write operations
        (merge, delete_where, compact) deliberately do NOT auto-retry —
        their result depends on the rows they read, so a blind retry
        could silently drop the winner's changes (Iceberg's serializable
        conflict detection fails those too)."""
        for i in range(retries + 1):
            try:
                return attempt()
            except CatalogHTTPError as e:
                if e.code != 409 or i == retries:
                    raise
        raise AssertionError("unreachable")

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        when_matched_update: bool = True,
        when_not_matched_insert: bool = True,
        branch: str = MAIN_BRANCH,
    ) -> int:
        """MERGE INTO parity (test_spark.py:72-74: matched→update row,
        not-matched→insert), composed from DataFrame ops + one snapshot
        overwrite:

          result =  target ⟕ source (anti on keys)   -- untouched rows
                  ∪ source∩target                    -- matched, updated
                  ∪ source∖target                    -- not matched, inserted

        The key join shuffles both sides once; the commit is a single
        CAS-guarded overwrite snapshot, so MERGE keeps the same atomic
        visibility as the reference's AddSnapshot+SetSnapshotRef flow."""
        target = self.read(ref=branch if branch in self._load()["refs"] else None)
        cols = target.columns
        untouched = target.join(source, on, "left_anti")
        matched = (
            source.join(target.select(on), on, "left_semi") if when_matched_update
            else target.join(source, on, "left_semi")
        )
        pieces = [untouched.select(cols), matched.select(cols)]
        if when_not_matched_insert:
            pieces.append(source.join(target.select(on), on, "left_anti").select(cols))
        merged = pieces[0]
        for p in pieces[1:]:
            merged = merged.unionByName(p)
        return self.overwrite(merged, branch)

    def delete_where(self, condition, branch: str = MAIN_BRANCH) -> int:
        """Row-level DELETE: rewrite without matching rows (copy-on-write).

        SQL DELETE removes only rows where the condition is TRUE; under
        Spark's three-valued logic `~condition` is NULL (not kept) for
        rows where the predicate is NULL, so keep NOT-TRUE explicitly via
        coalesce(condition, false)."""
        remaining = self.read(ref=branch if branch in self._load()["refs"] else None).filter(
            ~F.coalesce(condition, F.lit(False))
        )
        return self.overwrite(remaining, branch)

    def compact(self, target_partitions: int = 1, branch: str = MAIN_BRANCH) -> int:
        """CALL system.rewrite_data_files parity (test_spark.py:347-357):
        read-all + coalesce + overwrite with replace semantics."""
        df = self.read(ref=branch).coalesce(target_partitions)
        return self.overwrite(df, branch)

    # --------------------------------------------------------------- read

    def read(
        self, snapshot_id: int | None = None, ref: str | None = None
    ) -> DataFrame:
        """The snapshot's rows, bound to the schema snapshots.resolve_read
        picks (time travel reads the snapshot's schema)."""
        snap, schema = snapshots.resolve_read(self._load(), snapshot_id, ref)
        files = [] if snap is None else snapshots.read_manifest(snap)
        return self._read_files(schema["fields"], files)

    def _read_files(
        self, ice_fields: list[dict], files: list[str], with_file_col: str | None = None
    ) -> DataFrame:
        """Read data files by field id: files carry f<id> column names
        (see _write_files); read with the id-keyed schema, then restore
        display names — ids absent from a file backfill as null (schema
        evolution). No files reads as an empty frame."""
        if not files:
            schema = spark_schema_from_iceberg({"fields": ice_fields})
            return self.spark.createDataFrame([], schema)
        id_schema = T.StructType(
            [
                T.StructField(
                    f"f{f['id']}", _ICEBERG_TO_SPARK[f["type"]], not f.get("required", False)
                )
                for f in ice_fields
            ]
        )
        raw = self.spark.read.schema(id_schema).parquet(*files)
        cols = [raw[f"f{f['id']}"].alias(f["name"]) for f in ice_fields]
        if with_file_col:
            cols.append(F.input_file_name().alias(with_file_col))
        return raw.select(*cols)

    def read_where(
        self, eq: dict[str, Any], snapshot_id: int | None = None, ref: str | None = None
    ) -> DataFrame:
        """Partition-pruned read: equality predicates prune data FILES by
        the path-encoded partition tuple before any scan is planned
        (snapshots.prune) — Iceberg's manifest-level pruning, the
        difference between touching a 100 TB table and touching one
        partition of it. The residual equality filter is still applied
        (and pushed to the parquet scan), so results are exact even when
        a file can't be pruned."""
        m = self._load()
        snap, schema = snapshots.resolve_read(m, snapshot_id, ref)
        files = [] if snap is None else snapshots.prune(m, snapshots.read_manifest(snap), eq)
        df = self._read_files(schema["fields"], files)
        for col, val in eq.items():
            if col in df.columns:
                df = df.filter(F.col(col) == F.lit(val))
        return df

    def read_incremental(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Incremental append scan (Iceberg's incremental read): rows
        ADDED strictly after `from_snapshot_id` up to and including
        `to_snapshot_id` (default: current head), under the current
        schema. The data scan touches only the added files, which is the
        point: a 100 TB table's nightly delta reads like a small table.
        Raises on the cases snapshots.appended_files rejects (a
        non-append snapshot in the range, rewritten or expired history)."""
        m = self._load()
        # the wire omits a null current-snapshot-id
        head_id = to_snapshot_id if to_snapshot_id is not None else m.get("current-snapshot-id")
        if head_id is None:
            raise ValueError("table has no snapshots")
        added = snapshots.appended_files(m, from_snapshot_id, head_id)
        return self._read_files(snapshots.schema(m)["fields"], added)

    # ----------------------------------------------------------- refs/ddl

    def create_tag(
        self, tag: str, snapshot_id: int | None = None, max_ref_age_ms: int | None = None
    ) -> None:
        """`CREATE TAG ... [RETAIN n DAYS]` (test_spark.py:282-296):
        max_ref_age_ms is stored on the ref and honored by
        expire_snapshots, which drops aged-out refs before computing the
        protected snapshot set."""
        metadata = self._load()
        snap = snapshots.resolve_snapshot(metadata, snapshot_id)
        update = {
            "action": "set-snapshot-ref",
            "ref-name": tag,
            "snapshot-id": snap["snapshot-id"],
            "type": "tag",
        }
        if max_ref_age_ms is not None:
            update["max-ref-age-ms"] = int(max_ref_age_ms)
        self.client.commit_table(
            self.namespace,
            self.name,
            [{"type": "assert-ref-snapshot-id", "ref": tag, "snapshot-id": None}],
            [update],
        )

    def rollback_to(self, snapshot_id: int, branch: str = MAIN_BRANCH) -> None:
        """`CALL rollback_to_snapshot(...)` semantics: move the branch
        head back to an ancestor snapshot. Pure metadata — one
        SetSnapshotRef commit CAS-guarded on the current head; no data
        files move, and the abandoned snapshots stay until
        expire_snapshots (so a roll-forward is equally one commit).
        The target must be a current ancestor of the branch head —
        rolling back to an unrelated snapshot would silently splice
        histories."""
        metadata = self._load()
        head = metadata["refs"].get(branch)
        if head is None:
            raise ValueError(f"branch {branch!r} has no snapshots")
        if snapshot_id not in snapshots.ancestor_ids(metadata, head["snapshot-id"]):
            raise ValueError(
                f"snapshot {snapshot_id} is not an ancestor of {branch!r}"
            )
        self.client.commit_table(
            self.namespace,
            self.name,
            [
                {
                    "type": "assert-ref-snapshot-id",
                    "ref": branch,
                    "snapshot-id": head["snapshot-id"],
                }
            ],
            [
                {
                    "action": "set-snapshot-ref",
                    "ref-name": branch,
                    "snapshot-id": snapshot_id,
                    "type": "branch",
                }
            ],
        )

    def create_branch(
        self,
        branch: str,
        snapshot_id: int | None = None,
        max_ref_age_ms: int | None = None,
        min_snapshots_to_keep: int | None = None,
        max_snapshot_age_ms: int | None = None,
    ) -> None:
        metadata = self._load()
        snap = snapshots.resolve_snapshot(metadata, snapshot_id)
        update = {
            "action": "set-snapshot-ref",
            "ref-name": branch,
            "snapshot-id": snap["snapshot-id"],
            "type": "branch",
        }
        for key, val in (
            ("max-ref-age-ms", max_ref_age_ms),
            ("min-snapshots-to-keep", min_snapshots_to_keep),
            ("max-snapshot-age-ms", max_snapshot_age_ms),
        ):
            if val is not None:
                update[key] = int(val)
        self.client.commit_table(
            self.namespace,
            self.name,
            [{"type": "assert-ref-snapshot-id", "ref": branch, "snapshot-id": None}],
            [update],
        )

    def add_column(self, name: str, iceberg_type: str, required: bool = False) -> None:
        """ALTER TABLE ADD COLUMN parity (test_spark.py:228-233):
        AddSchema (current fields + new field, fresh id) + SetCurrentSchema."""
        m = self._load()
        schema = snapshots.schema(m)
        new_field_id = m["last-column-id"] + 1
        new_schema = {
            "type": "struct",
            "fields": schema["fields"]
            + [{"id": new_field_id, "name": name, "required": required, "type": iceberg_type}],
        }
        self.client.commit_table(
            self.namespace,
            self.name,
            [{"type": "assert-current-schema-id", "current-schema-id": m["current-schema-id"]}],
            [
                {"action": "add-schema", "schema": new_schema, "last-column-id": new_field_id},
                {"action": "set-current-schema", "schema-id": -1},
            ],
        )

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN parity: new schema without the field."""
        m = self._load()
        schema = snapshots.schema(m)
        new_schema = {
            "type": "struct",
            "fields": [f for f in schema["fields"] if f["name"] != name],
        }
        self.client.commit_table(
            self.namespace,
            self.name,
            [{"type": "assert-current-schema-id", "current-schema-id": m["current-schema-id"]}],
            [
                {"action": "add-schema", "schema": new_schema},
                {"action": "set-current-schema", "schema-id": -1},
            ],
        )

    def add_partition_field(self, source_name: str, transform: str, field_name: str) -> None:
        """ALTER TABLE ADD PARTITION FIELD parity (test_spark.py:244):
        AddSpec (current fields + new) + SetDefaultSpec; field ids ≥1000."""
        m = self._load()
        schema = snapshots.schema(m)
        source = next(f for f in schema["fields"] if f["name"] == source_name)
        current_spec = next(
            s for s in m["partition-specs"] if s["spec-id"] == m["default-spec-id"]
        )
        fields = [
            {k: f[k] for k in ("source-id", "transform", "name")}
            for f in current_spec["fields"]
        ] + [{"source-id": source["id"], "transform": transform, "name": field_name}]
        self.client.commit_table(
            self.namespace,
            self.name,
            [{"type": "assert-default-spec-id", "default-spec-id": m["default-spec-id"]}],
            [
                {"action": "add-spec", "spec": {"fields": fields}},
                {"action": "set-default-spec", "spec-id": -1},
            ],
        )

    def drop_partition_field(self, field_name: str) -> None:
        """ALTER TABLE DROP PARTITION FIELD parity (test_spark.py:192-198):
        AddSpec without the field + SetDefaultSpec (v2 semantics — the
        field is removed, not voided)."""
        m = self._load()
        current_spec = next(
            s for s in m["partition-specs"] if s["spec-id"] == m["default-spec-id"]
        )
        fields = [
            {k: f[k] for k in ("source-id", "transform", "name")}
            for f in current_spec["fields"]
            if f["name"] != field_name
        ]
        if len(fields) == len(current_spec["fields"]):
            raise KeyError(f"partition field {field_name!r} not found")
        self.client.commit_table(
            self.namespace,
            self.name,
            [{"type": "assert-default-spec-id", "default-spec-id": m["default-spec-id"]}],
            [
                {"action": "add-spec", "spec": {"fields": fields}},
                {"action": "set-default-spec", "spec-id": -1},
            ],
        )

    def set_write_order(self, fields: list[tuple[str, str]]) -> None:
        """ALTER TABLE ... WRITE ORDERED BY parity: fields is a list of
        (column_name, 'asc'|'desc'); AddSortOrder + SetDefaultSortOrder."""
        m = self._load()
        schema = snapshots.schema(m)
        by_name = {f["name"]: f["id"] for f in schema["fields"]}
        order_fields = [
            {
                "source-id": by_name[name],
                "transform": "identity",
                "direction": direction,
                "null-order": "nulls-first" if direction == "asc" else "nulls-last",
            }
            for name, direction in fields
        ]
        self.client.commit_table(
            self.namespace,
            self.name,
            [],
            [
                {"action": "add-sort-order", "sort-order": {"fields": order_fields}},
                {"action": "set-default-sort-order", "sort-order-id": -1},
            ],
        )

    def expire_snapshots(
        self, older_than_ms: int | None = None, retain_last: int = 1
    ) -> dict[str, int]:
        """Maintenance: `expire_snapshots` semantics — drop snapshots that
        are (a) not any ref's head, (b) not among the newest
        `retain_last`, and (c) older than `older_than_ms` if given; then
        delete data files and manifests referenced *only* by the expired
        snapshots. Metadata swap happens first (CAS-guarded commit), file
        deletion after — a crash between the two leaks files but never
        corrupts the table, the same ordering Iceberg uses
        (snapshots.delete_unreferenced: metadata-scale, no data scan)."""
        m = self._load()
        snaps = sorted(m["snapshots"], key=lambda s: s.get("sequence-number", 0))
        # refs past their max-ref-age (RETAIN n DAYS) age out first —
        # Iceberg's removeExpiredRefs step; `main` is never dropped
        now_ms = int(time.time() * 1000)
        by_id = {s["snapshot-id"]: s for s in m["snapshots"]}
        for name, ref in list(m["refs"].items()):
            age_limit = ref.get("max-ref-age-ms")
            if name == MAIN_BRANCH or age_limit is None:
                continue
            head_ts = by_id.get(ref["snapshot-id"], {}).get("timestamp-ms", now_ms)
            if now_ms - head_ts > age_limit:
                self.client.commit_table(
                    self.namespace,
                    self.name,
                    [],
                    [{"action": "remove-snapshot-ref", "ref-name": name}],
                )
                m = self._load()
        protected = {r["snapshot-id"] for r in m["refs"].values()}
        keep = {s["snapshot-id"] for s in snaps[len(snaps) - retain_last :]} | protected
        expired = [
            s
            for s in snaps
            if s["snapshot-id"] not in keep
            and (older_than_ms is None or s.get("timestamp-ms", 0) < older_than_ms)
        ]
        if not expired:
            return {"expired": 0, "deleted_files": 0}
        self.client.commit_table(
            self.namespace,
            self.name,
            [],
            [
                {
                    "action": "remove-snapshots",
                    "snapshot-ids": [s["snapshot-id"] for s in expired],
                }
            ],
        )
        expired_ids = {s["snapshot-id"] for s in expired}
        deleted = snapshots.delete_unreferenced(
            expired, [s for s in snaps if s["snapshot-id"] not in expired_ids]
        )
        return {"expired": len(expired), "deleted_files": deleted}

    def remove_orphan_files(self, older_than_ms: int | None = None) -> dict[str, int]:
        """Maintenance: `remove_orphan_files` — delete files under the
        table's data location that no snapshot's manifest references
        (left behind by failed/aborted writes). A modification-time
        grace period (`older_than_ms`, absolute epoch ms) protects
        writes that are mid-flight between their parquet write and the
        snapshot commit — the same safety valve Iceberg's procedure has.
        Metadata-scale set difference; no data scan."""
        m = self._load()
        referenced = {f for s in m["snapshots"] for f in snapshots.read_manifest(s)}
        data_root = os.path.join(local_path(m["location"]), "data")
        deleted = 0
        for root, _, files in os.walk(data_root):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue  # _SUCCESS/.crc sidecars: write bookkeeping,
                    # not data files — manifests never track them
                p = os.path.join(root, fn)
                if p in referenced:
                    continue
                if older_than_ms is not None and os.path.getmtime(p) * 1000 >= older_than_ms:
                    continue
                os.remove(p)
                deleted += 1
        return {"deleted_files": deleted}

    def set_properties(self, properties: dict[str, str]) -> None:
        self.client.commit_table(
            self.namespace, self.name, [], [{"action": "set-properties", "updates": properties}]
        )

    def metadata(self) -> dict[str, Any]:
        return self._load()

    # ------------------------------------------------------ metadata views

    def snapshots_df(self) -> DataFrame:
        """`SELECT * FROM tbl.snapshots` parity (test_spark.py:344)."""
        m = self._load()
        rows = [
            (
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s.get("sequence-number"),
                s.get("operation", s.get("summary", {}).get("operation")),
                s.get("timestamp-ms"),
            )
            for s in m["snapshots"]
        ]
        return self.spark.createDataFrame(
            rows, "snapshot_id long, parent_id long, sequence_number long, operation string,"
            " committed_at_ms long"
        )

    def refs_df(self) -> DataFrame:
        """`SELECT * FROM tbl.refs` parity (test_spark.py:307)."""
        m = self._load()
        rows = [(name, r["type"], r["snapshot-id"]) for name, r in m["refs"].items()]
        return self.spark.createDataFrame(rows, "name string, type string, snapshot_id long")

    def history_df(self) -> DataFrame:
        """`SELECT * FROM tbl.history` parity (Iceberg history metadata
        table): one row per main-branch snapshot-log entry, with
        ``is_current_ancestor`` marking rows on the CURRENT snapshot's
        parent chain — false rows are overwritten lineage left behind by
        a rollback (exactly how Iceberg surfaces rollback history).
        Metadata-sized: built from the snapshot log, no file IO."""
        m = self._load()
        by_id = {s["snapshot-id"]: s for s in m["snapshots"]}
        ancestors = set(snapshots.ancestor_ids(m, m.get("current-snapshot-id")))
        rows = [
            (
                e["timestamp-ms"],
                e["snapshot-id"],
                by_id.get(e["snapshot-id"], {}).get("parent-snapshot-id"),
                e["snapshot-id"] in ancestors,
            )
            for e in m.get("snapshot-log", [])
        ]
        return self.spark.createDataFrame(
            rows,
            "made_current_at_ms long, snapshot_id long, parent_id long,"
            " is_current_ancestor boolean",
        )

    def files_df(self) -> DataFrame:
        """`SELECT * FROM tbl.files` parity (test_spark.py:344-357)."""
        snap = snapshots.resolve_snapshot(self._load())
        files = [] if snap is None else snapshots.read_manifest(snap)
        return self.spark.createDataFrame(
            [(f, os.path.getsize(f)) for f in files], "file_path string, file_size_bytes long"
        )

    @staticmethod
    def _partition_expr(transform: str, col, ice_type: str):
        """Spark Column computing an Iceberg partition transform value."""
        from ..operators import transforms as TR

        if transform == "identity":
            return col
        if transform == "void":
            return F.lit(None)
        if transform.startswith("bucket["):
            n = int(transform[len("bucket[") : -1])
            if ice_type == "string":
                return TR.bucket_string(col, n)
            return TR.bucket_long(col.cast("long"), n)
        if transform.startswith("truncate["):
            w = int(transform[len("truncate[") : -1])
            if ice_type == "string":
                return TR.truncate_string(col, w)
            return TR.truncate_long(col, w)
        if transform in ("year", "years"):
            return TR.years(col)
        if transform in ("month", "months"):
            return TR.months(col)
        if transform in ("day", "days"):
            return TR.days(col)
        if transform in ("hour", "hours"):
            return TR.hours(col)
        raise ValueError(f"unknown transform {transform!r}")

    def partitions_df(self) -> DataFrame:
        """`SELECT * FROM tbl.partitions` parity (test_spark.py:149-165,
        185-210): one row per (partition tuple, spec_id) in the current
        snapshot, with record and file counts. Each data file is
        attributed to the spec that was default when its snapshot
        committed (snapshot['spec-id'] — the snapshot-level equivalent of
        Iceberg manifests' per-file spec-id), so rows written before a
        partition-evolution keep their original partition tuple, exactly
        like the reference's test_change_partitioning expects. Counts are
        computed distributedly (groupBy + count + countDistinct on
        input_file_name); only the per-partition summary reaches the
        driver."""
        out_schema = "partition string, spec_id int, record_count long, file_count long"
        m = self._load()
        snap = snapshots.resolve_snapshot(m)
        files = [] if snap is None else snapshots.read_manifest(snap)
        if not files:
            return self.spark.createDataFrame([], out_schema)
        # file → spec: first (commit-ordered) snapshot that contains it
        file_spec: dict[str, int] = {}
        for s in sorted(m["snapshots"], key=lambda s: s.get("sequence-number", 0)):
            sid = s.get("spec-id", m["default-spec-id"])
            for f in snapshots.read_manifest(s):
                file_spec.setdefault(f, sid)
        by_spec: dict[int, list[str]] = {}
        for f in files:
            by_spec.setdefault(file_spec.get(f, m["default-spec-id"]), []).append(f)
        specs = {s["spec-id"]: s for s in m["partition-specs"]}
        # source columns may live in an older schema (dropped since)
        fields_by_id = snapshots.fields_by_id(m)
        parts = []
        for spec_id, flist in sorted(by_spec.items()):
            spec = specs[spec_id]
            need = list(
                {pf["source-id"]: fields_by_id[pf["source-id"]] for pf in spec["fields"]}.values()
            )
            df = self._read_files(need, flist, with_file_col="_file")
            if spec["fields"]:
                pieces = []
                for pf in spec["fields"]:
                    src = fields_by_id[pf["source-id"]]
                    val = self._partition_expr(pf["transform"], F.col(src["name"]), src["type"])
                    pieces.append(
                        F.concat(F.lit(pf["name"] + "="), F.coalesce(val.cast("string"), F.lit("null")))
                    )
                pstr = F.concat(F.lit("{"), F.concat_ws(", ", *pieces), F.lit("}"))
            else:
                pstr = F.lit("{}")
            parts.append(
                df.groupBy(pstr.alias("partition")).agg(
                    F.lit(spec_id).cast("int").alias("spec_id"),
                    F.count(F.lit(1)).alias("record_count"),
                    F.countDistinct("_file").alias("file_count"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out.select("partition", "spec_id", "record_count", "file_count")
