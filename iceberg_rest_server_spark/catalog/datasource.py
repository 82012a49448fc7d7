"""Spark 4 Python Data Source for the REST catalog: lets ANY Spark user
read catalog tables with plain ``spark.read.format("iceberg_rest")`` —
no Python client object in sight, the same UX as the reference's
`USING iceberg` tables (tests/python/tests/conftest.py:204-226), built
on pyspark.sql.datasource (the Spark 4 extension point).

    spark.dataSource.register(IcebergRestDataSource)
    df = (spark.read.format("iceberg_rest")
          .option("uri", server_url)
          .option("project", "p").option("warehouse", "wh")
          .option("namespace", "ns").option("table", "t")
          .option("ref", "main")            # or snapshot_id for time travel
          .load())

Scale shape:
- The DRIVER does only metadata work: one REST load_table round-trip,
  one manifest read — file paths and the field-id schema ship to
  executors inside pickled InputPartitions.
- ONE InputPartition PER DATA FILE: Spark schedules file reads across
  the cluster exactly like its native parquet source; a 100 TB table
  is as parallel as its file count.
- Executor ``read()`` is pyarrow parquet → Arrow RecordBatches (the
  zero-copy path into Spark; never row-by-row Python objects), with
  field-id → display-name mapping and schema-evolution null backfill
  (a file written before ADD COLUMN simply lacks the new f<id> and
  yields nulls — same semantics as SparkCatalogTable._read_files).

Every snapshot decision — which snapshot and schema the options select,
the manifest, the CAS commit, the incremental diff, partition pruning —
is made in snapshots.py, shared with SparkCatalogTable; this module only
moves the data, through pyarrow in each file's own partition.
"""

from __future__ import annotations

import os
import uuid
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from . import snapshots
from .client import RestCatalogClient
from .io import local_path
from .spark_table import _ICEBERG_TO_SPARK as _JVM_READ_TYPES

_ICEBERG_TO_ARROW = {
    "long": "int64",
    "int": "int32",
    "double": "float64",
    "float": "float32",
    "string": "string",
    "boolean": "bool",
    "timestamp": "timestamp[us]",
    "date": "date32",
    "binary": "binary",
}

# NOTE on timestamps: this Data Source deliberately surfaces Iceberg
# `timestamp` as TimestampNTZType, NOT spark_table.py's TimestampType.
# The read path hands Spark Arrow timestamp("us") batches with no zone,
# and Spark maps zoneless Arrow timestamps to NTZ; declaring TZ here
# would make Spark re-interpret wall-clock values through the session
# zone on the Arrow boundary. spark_table.py reads through the JVM
# parquet reader where the session-zone cast is applied uniformly, so
# it keeps TimestampType.
_ICEBERG_TO_SPARK = {**_JVM_READ_TYPES, "timestamp": T.TimestampNTZType()}


def _arrow_type(ice_type: str):
    import pyarrow as pa

    return pa.type_for_alias(_ICEBERG_TO_ARROW[ice_type])


def _client(options: dict) -> tuple[RestCatalogClient, list[str], str]:
    """(client, namespace, table) named by the options — through the same
    RestCatalogClient every other consumer uses: config round-trip for
    the prefix, 0x1F namespace separator, error envelope handling."""
    client = RestCatalogClient(options["uri"])
    client.configure(options.get("project", "p"), options.get("warehouse", "wh"))
    return client, options["namespace"].split("."), options["table"]


def _load(options: dict) -> dict:
    client, namespace, table = _client(options)
    return client.load_table(namespace, table)["metadata"]


def _resolve(options: dict) -> tuple[dict, dict | None, dict]:
    """(metadata, snapshot, schema) the ``snapshot_id`` / ``ref`` options
    select — time travel binds the snapshot's schema."""
    metadata = _load(options)
    sid = options.get("snapshot_id")
    snap, schema = snapshots.resolve_read(
        metadata, None if sid is None else int(sid), options.get("ref")
    )
    return metadata, snap, schema


class _FilePartition(InputPartition):
    def __init__(self, path: str, fields: list[dict]):
        self.path = path
        self.fields = fields  # [{"id", "name", "type"}...]


class IcebergRestReader(DataSourceReader):
    def __init__(self, options: dict):
        self._metadata, snap, schema = _resolve(options)
        self._fields = schema["fields"]
        self._files = [] if snap is None else snapshots.read_manifest(snap)

    def pushFilters(self, filters):
        """File-level partition pruning — Iceberg's manifest pruning
        surfaced through the Spark 4 pushdown hook: single-column
        equality predicates go to snapshots.prune, the rule
        SparkCatalogTable.read_where uses. Pruning is file-granular, not
        row-exact, so EVERY filter is returned for Spark to re-apply
        post-scan — results stay exact, the scan just touches fewer
        files."""
        from pyspark.sql.datasource import EqualTo

        eq = {
            f.attribute[0]: f.value
            for f in filters
            if isinstance(f, EqualTo) and len(f.attribute) == 1
        }
        self._files = snapshots.prune(self._metadata, self._files, eq)
        return filters  # file pruning only — Spark still filters rows

    def partitions(self) -> list[InputPartition]:
        # one partition per (pruned) data file — the unit the manifests
        # track and the unit Spark schedules; empty reads as one no-op
        return [_FilePartition(p, self._fields) for p in self._files] or [
            _FilePartition("", self._fields)
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        # executor-side: Arrow batches, field-id addressing, null backfill
        import pyarrow as pa
        import pyarrow.parquet as pq

        target = pa.schema(
            [pa.field(f["name"], _arrow_type(f["type"])) for f in partition.fields]
        )
        if not partition.path or not os.path.exists(partition.path):
            return iter(())

        def gen():
            table = pq.read_table(partition.path)
            n = table.num_rows
            arrays = []
            for f in partition.fields:
                fid = f"f{f['id']}"
                if fid in table.column_names:
                    arrays.append(
                        table.column(fid).cast(_arrow_type(f["type"])).combine_chunks()
                    )
                else:
                    # schema evolution: field added after this file was
                    # written — all-null backfill, never wrong values
                    arrays.append(pa.nulls(n, _arrow_type(f["type"])))
            yield pa.RecordBatch.from_arrays(
                [a.chunk(0) if isinstance(a, pa.ChunkedArray) else a for a in arrays],
                schema=target,
            )

        return gen()


class IcebergRestDataSource(DataSource):
    """`format("iceberg_rest")` — see module docstring for options."""

    @classmethod
    def name(cls) -> str:
        return "iceberg_rest"

    def schema(self) -> T.StructType:
        fields = _resolve(self.options)[2]["fields"]
        return T.StructType(
            [
                T.StructField(
                    f["name"], _ICEBERG_TO_SPARK[f["type"]], not f.get("required", False)
                )
                for f in fields
            ]
        )

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return IcebergRestReader(self.options)

    def writer(self, schema: T.StructType, overwrite: bool):
        return IcebergRestWriter(self.options, overwrite)

    def streamReader(self, schema: T.StructType):
        return IcebergRestStreamReader(self.options)


# --------------------------------------------------------------- write path

class _FilesCommitMessage(WriterCommitMessage):
    def __init__(self, files: list[str]):
        self.files = files


class IcebergRestWriter(DataSourceArrowWriter):
    """`df.write.format("iceberg_rest").mode("append"|"overwrite")` —
    the Iceberg two-phase commit protocol in its native shape:

    1. *Executors* each write their partition as one parquet data file
       (Arrow batches straight to disk, display names mapped to f<id>
       field-id columns exactly like SparkCatalogTable._write_files) and
       return only the file PATH as their commit message — data never
       moves to the driver.
    2. The *driver's* commit() makes ONE CAS-guarded REST commit:
       snapshots.commit_snapshot on ``main``, where append keeps the
       head's files and overwrite replaces them. A concurrent committer's CAS
       failure surfaces as the standard 409 and Spark aborts the job —
       the reference's optimistic-concurrency contract.
    3. abort() deletes the orphaned files (and remove_orphan_files
       would reap any leak after a crash, same as Iceberg).
    """

    def __init__(self, options: dict, overwrite: bool):
        self._options = dict(options)
        self._overwrite = overwrite
        metadata = _load(options)
        self._fields = snapshots.schema(metadata)["fields"]
        self._data_dir = os.path.join(
            local_path(metadata["location"]), "data", uuid.uuid4().hex
        )

    # executor-side
    def write(self, iterator) -> WriterCommitMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        fid_schema = pa.schema(
            [pa.field(f"f{f['id']}", _arrow_type(f["type"])) for f in self._fields]
        )
        batches = []
        for batch in iterator:
            arrays = []
            for f in self._fields:
                idx = batch.schema.get_field_index(f["name"])
                if idx < 0:
                    # get_field_index returns -1 for a missing name, and
                    # batch.column(-1) would silently alias the LAST column
                    raise ValueError(
                        f"column {f['name']!r} missing from input DataFrame; "
                        f"table requires {[x['name'] for x in self._fields]}"
                    )
                arrays.append(batch.column(idx).cast(_arrow_type(f["type"])))
            batches.append(
                pa.RecordBatch.from_arrays(arrays, schema=fid_schema)
            )
        if not batches or sum(b.num_rows for b in batches) == 0:
            return _FilesCommitMessage([])  # empty partition → no file
        os.makedirs(self._data_dir, exist_ok=True)
        path = os.path.join(self._data_dir, f"part-{uuid.uuid4().hex}.parquet")
        pq.write_table(pa.Table.from_batches(batches, schema=fid_schema), path)
        return _FilesCommitMessage([path])

    # driver-side
    def commit(self, messages) -> None:
        client, namespace, table = _client(self._options)
        snapshots.commit_snapshot(
            client,
            namespace,
            table,
            client.load_table(namespace, table)["metadata"],
            [p for m in messages for p in m.files],
            "overwrite" if self._overwrite else "append",
            summary_extra={"writer": "python-datasource"},
        )

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for p in m.files:
                try:
                    os.remove(p)
                except OSError:
                    pass


# ------------------------------------------------------------- stream read

class IcebergRestStreamReader(DataSourceStreamReader):
    """`spark.readStream.format("iceberg_rest")` — incremental snapshot
    tailing (Iceberg's streaming read): each micro-batch is the set of
    data files APPENDED between two snapshots on the parent chain.

    - Offsets are snapshot ids ({"snapshot_id": N}; -1 = before any
      snapshot, so the first batch reads the whole current table then
      the query tails new commits — file-source semantics).
    - partitions(start, end) is metadata-only on the driver: walk the
      parent chain end→start and diff each append snapshot's file list
      against its parent (snapshots.appended_files). One InputPartition per added
      file, read executor-side exactly like the batch path. It rejects what SparkCatalogTable.read_incremental
      rejects, with the same message: a non-append snapshot in the
      range, a start offset that is no longer an ancestor (rollback),
      an expired snapshot (Iceberg's own streaming source does too).
    - Offset persistence in the checkpoint gives exactly-once batches
      across restarts; commit() is a no-op because snapshots are
      immutable.
    """

    def __init__(self, options: dict):
        self._options = dict(options)
        self._fields = _resolve(options)[2]["fields"]

    def initialOffset(self) -> dict:
        return {"snapshot_id": -1}

    def latestOffset(self) -> dict:
        cur = _load(self._options).get("current-snapshot-id")
        return {"snapshot_id": -1 if cur is None else cur}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        start_id, end_id = start["snapshot_id"], end["snapshot_id"]
        if end_id == -1 or start_id == end_id:
            return []
        files = snapshots.appended_files(
            _load(self._options), None if start_id == -1 else start_id, end_id
        )
        return [_FilePartition(p, self._fields) for p in files]

    def read(self, partition: _FilePartition):
        return IcebergRestReader.read(self, partition)  # same Arrow path

    def commit(self, end: dict) -> None:
        pass  # snapshots are immutable; the checkpoint holds the offset
