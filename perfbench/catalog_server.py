"""Catalog server launcher for the benchmark.

Builds a file-backed ``CatalogStore`` (the ``serve`` CLI only offers
``:memory:``), seeds it from a seeded plan, serves it with
``make_server`` on an ephemeral port and prints one JSON line with the
port. It serves until its standard input closes, then shuts down; with
``--trace 1`` it wraps the catalog layers in spans first and writes them
to ``<dir>/spans.json`` on the way out.

    python3 perfbench/catalog_server.py --dir D --seed 1 --tables 300 --max-history 200
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import sys
import threading
import time

from common import ROOT

PROJECT = "bench"
LOCAL_WH = "local"
S3_WH = "s3"
S3_BUCKET = "bench-bucket"
S3_PROFILE = {
    "region": "us-east-1",
    "bucket": S3_BUCKET,
    "access-key-id": "AKIDBENCHMARK",
    "secret-access-key": "benchmark-secret",
}
NAMESPACE = ["ns"]
SCHEMA = {
    "type": "struct",
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "ts", "required": False, "type": "timestamp"},
        {"id": 3, "name": "category", "required": False, "type": "string"},
        {"id": 4, "name": "amount", "required": False, "type": "double"},
    ],
}


def table_name(i: int) -> str:
    return f"t{i:04d}"


GOLDEN = (math.sqrt(5.0) - 1.0) / 2.0


def popularity_order(seed: int, tables: int) -> list[int]:
    """Table index at each popularity rank (rank 0 is the hottest)."""
    order = list(range(tables))
    random.Random(seed * 31 + 7).shuffle(order)
    return order


def history_lengths(seed: int, tables: int, max_history: int) -> list[int]:
    """Per-table history length, log-uniform on [1, max_history].

    The quantile of the table at popularity rank r follows a golden-ratio
    sequence with a small seeded jitter, so the hot head of every seed
    spans short and long histories alike and the seed does not decide
    whether the hottest tables happen to be the largest."""
    rng = random.Random(seed * 7919 + 1)
    lengths = [0] * tables
    for rank, table in enumerate(popularity_order(seed, tables)):
        u = (0.5 + rank * GOLDEN + (rng.random() - 0.5) / tables) % 1.0
        lengths[table] = min(max_history, int(math.exp(u * math.log(max_history + 1))))
    return lengths


def snapshot(location: str, snap_id: int, parent: int | None, seq: int, ts_ms: int) -> dict:
    """An append snapshot shaped like the ones Iceberg engines commit."""
    added = 1 + seq % 4
    return {
        "snapshot-id": snap_id,
        "parent-snapshot-id": parent,
        "timestamp-ms": ts_ms,
        "manifest-list": f"{location}/metadata/snap-{snap_id}-1-{snap_id:x}.avro",
        "summary": {
            "operation": "append",
            "added-data-files": str(added),
            "added-records": str(added * 2500),
            "added-files-size": str(added * 181_000),
            "changed-partition-count": "1",
            "total-records": str(seq * 6250),
            "total-files-size": str(seq * 452_500),
            "total-data-files": str(seq * 2),
            "total-delete-files": "0",
            "total-position-deletes": "0",
            "total-equality-deletes": "0",
        },
        "schema-id": 0,
    }


def append_updates(location: str, snap_id: int, parent: int | None, seq: int) -> list[dict]:
    return [
        {"action": "add-snapshot",
         "snapshot": snapshot(location, snap_id, parent, seq, int(time.time() * 1000))},
        {"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": snap_id,
         "type": "branch"},
    ]


def seed_catalog(store, base: str, seed: int, tables: int, max_history: int) -> None:
    """Two warehouses with ``tables`` tables each: a local one whose
    tables carry seeded snapshot histories, and an s3:// one (no files
    are written there) that the signer resolves against."""
    rng = random.Random(seed)
    local = store.create_warehouse(PROJECT, LOCAL_WH, f"file://{base}/warehouse")
    s3 = store.create_warehouse(PROJECT, S3_WH, f"s3://{S3_BUCKET}/warehouse")
    store.set_storage_profile(s3, S3_PROFILE)
    for wid in (local, s3):
        store.create_namespace(wid, NAMESPACE)
    for i, length in enumerate(history_lengths(seed, tables, max_history)):
        name = table_name(i)
        location = store.create_table(local, NAMESPACE, name, SCHEMA)["metadata"]["location"]
        updates, parent = [], None
        for seq in range(1, length + 1):
            snap_id = rng.getrandbits(62) or 1
            updates.append({"action": "add-snapshot", "snapshot": snapshot(
                location, snap_id, parent, seq, 1_700_000_000_000 + seq * 60_000)})
            parent = snap_id
        updates.append({"action": "set-snapshot-ref", "ref-name": "main",
                        "snapshot-id": parent, "type": "branch"})
        store.commit_transaction(
            local, [{"namespace": NAMESPACE, "name": name, "requirements": [],
                     "updates": updates}])
        store.create_table(s3, NAMESPACE, name, SCHEMA)


def install_tracing(store, tracer) -> None:
    """Wrap the catalog layers the server calls into: the handler's
    dispatch, every public store method, the store's lock, and the
    metadata-build, metadata-write, event and signing functions as the
    store and server modules imported them."""
    from iceberg_rest_server_spark.catalog import server as server_mod
    from iceberg_rest_server_spark.catalog import store as store_mod
    from spans import TimedLock

    handler = server_mod.CatalogHandler
    dispatch = tracer.wrap(handler._dispatch, "catalog.server.dispatch")
    for attr in ("_dispatch", "do_GET", "do_POST", "do_DELETE", "do_HEAD"):
        setattr(handler, attr, dispatch)
    send_header = handler.send_header

    def counting_send_header(self, keyword, value):
        if keyword == "Content-Length":
            tracer.counts["response_bytes"] += int(value)
            tracer.counts["responses"] += 1
        send_header(self, keyword, value)

    handler.send_header = counting_send_header
    tracer.wrap_methods(store_mod.CatalogStore, "catalog.store")
    store._lock = TimedLock(store._lock, tracer, "lockwait.store")

    write = store_mod.write_metadata_file

    def write_and_count(path, metadata):
        out = write(path, metadata)
        tracer.counts["io_files"] += 1
        tracer.counts["io_bytes"] += os.path.getsize(path.removeprefix("file://"))
        return out

    store_mod.write_metadata_file = tracer.wrap(write_and_count, "catalog.io.write")
    store_mod.publish_event = tracer.wrap(store_mod.publish_event, "catalog.events.publish")
    store_mod.assert_requirement = tracer.wrap(
        store_mod.assert_requirement, "catalog.metadata.assert")
    server_mod.sign_s3_request = tracer.wrap(server_mod.sign_s3_request, "catalog.s3_signer.sign")

    class TracedBuilder(store_mod.TableMetadataBuilder):
        build = tracer.wrap(store_mod.TableMetadataBuilder.build, "catalog.metadata.build")

    store_mod.TableMetadataBuilder = TracedBuilder


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--tables", type=int, required=True)
    ap.add_argument("--max-history", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    sys.path.insert(0, str(ROOT))

    from iceberg_rest_server_spark.catalog.server import make_server
    from iceberg_rest_server_spark.catalog.store import CatalogStore

    store = CatalogStore(os.path.join(args.dir, "catalog.sqlite"))
    seed_catalog(store, args.dir, args.seed, args.tables, args.max_history)
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        install_tracing(store, tracer)
    httpd = make_server(store, 0)
    httpd.daemon_threads = True
    serving = threading.Thread(target=httpd.serve_forever, daemon=True)
    serving.start()
    print(json.dumps({"port": httpd.server_address[1]}), flush=True)
    sys.stdin.read()  # the benchmark closes our stdin to stop us
    httpd.shutdown()
    httpd.server_close()
    serving.join()
    if tracer is not None:
        tracer.dump(os.path.join(args.dir, "spans.json"))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
