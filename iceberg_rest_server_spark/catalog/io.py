"""Metadata-file IO: gzip JSON snapshots of table metadata on storage.

Parity with the reference's `catalog/io.rs:7-85` + naming scheme
`<table_location>/metadata/<uuid>.gz.metadata.json`
(`service/storage/mod.rs:78-83`). The reference writes this file *before*
the metastore commit (catalog/tables.rs:150-188): a crash between the
two leaks an orphan file but never a broken catalog pointer — the same
ordering is used by CatalogStore when wired with a writer.

The writer takes the metadata already encoded as JSON text: the store
encodes each new metadata version once (one-shot ``json.dumps``, which
uses the C encoder — streaming ``json.dump`` into a file never does) and
stores that same text in the metastore row, so the file gunzips to
exactly the row's ``metadata`` column.
"""

from __future__ import annotations

import gzip
import json
import os

# one gzip level for metadata files and compressed responses: Java's
# GZIPOutputStream default, ~3x faster than level 9 for ~2% more bytes
GZIP_LEVEL = 6


def metadata_file_path(table_location: str, metadata_uuid: str) -> str:
    return os.path.join(
        local_path(table_location), "metadata", f"{metadata_uuid}.gz.metadata.json"
    )


def local_path(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def write_metadata_file(path: str, metadata_json: str) -> str:
    """Write already-encoded metadata JSON, gzip'd at GZIP_LEVEL in one
    write; returns the path written.

    s3:// paths are tracked but not written — this container has no S3
    client (boto3/fsspec); the metastore row stays authoritative, and the
    write slot is where an S3 PUT (via the remote signer) goes in a real
    deployment."""
    if path.startswith(("s3://", "s3a://")):
        return path
    p = local_path(path)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    data = gzip.compress(metadata_json.encode("utf-8"), compresslevel=GZIP_LEVEL)
    with open(p, "wb") as fh:
        fh.write(data)
    return path


def read_metadata_file(path: str) -> dict:
    with gzip.open(local_path(path), "rt", encoding="utf-8") as fh:
        return json.load(fh)
