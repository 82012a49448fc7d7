"""Metadata-file IO: gzip JSON snapshots of table metadata on storage.

Parity with the reference's `catalog/io.rs:7-85` + naming scheme
`<table_location>/metadata/<uuid>.gz.metadata.json`
(`service/storage/mod.rs:78-83`). The reference writes this file *before*
the metastore commit (catalog/tables.rs:150-188): a crash between the
two leaks an orphan file but never a broken catalog pointer — the same
ordering is used by CatalogStore when wired with a writer.
"""

from __future__ import annotations

import gzip
import json
import os


def metadata_file_path(table_location: str, metadata_uuid: str) -> str:
    return os.path.join(
        local_path(table_location), "metadata", f"{metadata_uuid}.gz.metadata.json"
    )


def local_path(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def write_metadata_file(path: str, metadata: dict) -> str:
    """Write gzip'd metadata JSON; returns the path written.

    s3:// paths are tracked but not written — this container has no S3
    client (boto3/fsspec); the metastore row stays authoritative, and the
    write slot is where an S3 PUT (via the remote signer) goes in a real
    deployment."""
    if path.startswith(("s3://", "s3a://")):
        return path
    p = local_path(path)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with gzip.open(p, "wt", encoding="utf-8") as fh:
        json.dump(metadata, fh)
    return path


def read_metadata_file(path: str) -> dict:
    with gzip.open(local_path(path), "rt", encoding="utf-8") as fh:
        return json.load(fh)
