"""``catalog-rest`` workload: a closed-loop mix of Iceberg REST requests
from 4 client threads against the catalog server running in its own
process. No Spark runs.

Mix: ~70% load_table, ~18% commit_table (one appended snapshot under
assert-ref-snapshot-id; at the table's seeded history length the same
commit also removes the oldest snapshot), ~4% commit_transaction over
2-4 tables, ~5% prefix-only sign_s3 against the s3:// warehouse, ~3%
list_tables / load_namespace. Tables are picked with Zipf skew, so hot
tables see real CAS contention. Like an Iceberg client's commit, every
attempt first reloads the tables it changes; after a 409 the client
retries, up to RETRY_CAP attempts.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random
import subprocess
import sys
import threading
import time
import urllib.error
from collections import defaultdict
from pathlib import Path

import catalog_server as cs
from common import (
    BENCH_DIR,
    cpu_seconds,
    median,
    metric,
    peak_rss_mb,
    percentile,
    remove_dir,
)

TABLES = 200
MAX_HISTORY = 200
CLIENTS = 4
ZIPF_S = 1.1
RETRY_CAP = 32
SETUPS = 5
WARMUP_S = 1.0
MIX = (
    ("load_table", 70),
    ("commit_table", 18),
    ("commit_transaction", 4),
    ("sign_s3", 5),
    ("list", 3),
)
SIGN_HOST = f"{cs.S3_BUCKET}.s3.{cs.S3_PROFILE['region']}.amazonaws.com"


class CatalogServer:
    """The launcher process; stopped by closing its standard input."""

    def __init__(self, workdir: Path, seed: int, tables: int, max_history: int, trace: bool):
        self.dir = workdir
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, str(BENCH_DIR / "catalog_server.py"), "--dir", str(workdir),
             "--seed", str(seed), "--tables", str(tables), "--max-history", str(max_history),
             "--trace", str(int(trace))],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line:
            self.stop()
            raise RuntimeError("catalog server exited during start-up")
        self.setup_s = time.perf_counter() - t0
        self.url = f"http://127.0.0.1:{json.loads(line)['port']}"

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


class RetriesExhausted(Exception):
    """A commit still conflicted after RETRY_CAP attempts."""


class Ledger:
    """What the catalog acknowledged to this workload: added snapshot
    ids per table, the ids its own expiry removed, and commit attempts."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.added: dict[str, list[int]] = defaultdict(list)
        self.removed: dict[str, set[int]] = defaultdict(set)
        self.attempts = 0
        self.acked = 0
        self.acked_files = 0

    def ack(self, changes: list[tuple[str, int, list[int]]], attempts: int) -> None:
        with self.lock:
            for table, snap_id, removed in changes:
                self.added[table].append(snap_id)
                self.removed[table].update(removed)
            self.attempts += attempts
            self.acked += 1
            self.acked_files += len(changes)


def chain(metadata: dict) -> set[int]:
    """Snapshot ids reachable from main through parent links."""
    by_id = {s["snapshot-id"]: s for s in metadata["snapshots"]}
    out, cur = set(), metadata["refs"]["main"]["snapshot-id"]
    while cur in by_id and cur not in out:
        out.add(cur)
        cur = by_id[cur].get("parent-snapshot-id")
    return out


def check_ledger(ledger: Ledger, final: dict[str, dict]) -> list[str]:
    """Every acknowledged snapshot is on its table's chain or was removed
    by the workload's own expiry, and each head is an acknowledged one."""
    problems = []
    for table, added in ledger.added.items():
        on_chain = chain(final[table])
        for snap_id in added:
            if snap_id not in on_chain and snap_id not in ledger.removed[table]:
                problems.append(f"{table}: acknowledged snapshot {snap_id} is lost")
        head = final[table]["refs"]["main"]["snapshot-id"]
        if head not in added:
            problems.append(f"{table}: head {head} was never acknowledged")
    return problems


class Workload:
    def __init__(self, url: str, seed: int, tables: int, max_history: int):
        from iceberg_rest_server_spark.catalog.client import RestCatalogClient

        self.url, self.seed, self.tables = url, seed, tables
        self.targets = cs.history_lengths(seed, tables, max_history)
        self.ledger = Ledger()
        self.by_rank = cs.popularity_order(seed, tables)
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(tables)))
        self.op_cum = list(itertools.accumulate(share for _, share in MIX))
        boot = RestCatalogClient(url)
        boot.configure(cs.PROJECT, cs.S3_WH)
        self.s3_keys = [
            boot.load_table(cs.NAMESPACE, cs.table_name(i))["metadata"]["location"]
            .split("://", 1)[1].split("/", 1)[1]
            for i in range(tables)
        ]

    def pick(self, rng: random.Random) -> int:
        rank = bisect.bisect_left(self.cum, rng.random() * self.cum[-1])
        return self.by_rank[min(rank, self.tables - 1)]

    def change(self, metadata: dict, table: str, rng: random.Random):
        """One appended snapshot; at the seeded history length the same
        commit expires the oldest snapshot."""
        parent = metadata["refs"]["main"]["snapshot-id"]
        snap_id = rng.getrandbits(62) or 1
        updates = cs.append_updates(
            metadata["location"], snap_id, parent, metadata["last-sequence-number"] + 1)
        removed = []
        if len(metadata["snapshots"]) >= self.targets[int(table[1:])]:
            oldest = min(metadata["snapshots"], key=lambda s: s["sequence-number"])
            removed = [oldest["snapshot-id"]]
            updates.append({"action": "remove-snapshots", "snapshot-ids": removed})
        requirements = [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": parent}]
        return requirements, updates, (table, snap_id, removed)

    def run(self, seconds: float, warmup: float) -> dict:
        """Run the client threads; returns per-op latencies (ms) of the
        timed window, failures and the window's bounds."""
        start = time.perf_counter() + warmup
        end = start + seconds
        results: list[dict] = []
        threads = [
            threading.Thread(target=self._client, args=(i, start, end, results))
            for i in range(CLIENTS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if len(results) != CLIENTS:
            raise RuntimeError("a client thread died; see its traceback above")
        lat: dict[str, list[float]] = defaultdict(list)
        failures: dict[str, int] = defaultdict(int)
        for r in results:
            for op, values in r["lat"].items():
                lat[op].extend(values)
            for op, n in r["failed"].items():
                failures[op] += n
        return {"lat": lat, "failed": failures, "start": start, "end": end,
                "errors": [e for r in results for e in r["errors"]]}

    def _client(self, idx: int, start: float, end: float, results: list) -> None:
        from iceberg_rest_server_spark.catalog.client import CatalogHTTPError, RestCatalogClient

        rng = random.Random(self.seed * 1000 + idx)
        client = RestCatalogClient(self.url)
        client.configure(cs.PROJECT, cs.LOCAL_WH)
        signer = RestCatalogClient(self.url)
        signer.configure(cs.PROJECT, cs.S3_WH)
        lat: dict[str, list[float]] = defaultdict(list)
        failed: dict[str, int] = defaultdict(int)
        errors: list[str] = []
        ns = cs.NAMESPACE

        def load(table: str) -> dict:
            return client.load_table(ns, table)["metadata"]

        while True:
            now = time.perf_counter()
            if now >= end:
                break
            op = MIX[bisect.bisect_right(self.op_cum, rng.random() * self.op_cum[-1])][0]
            try:
                if op == "load_table":
                    table = cs.table_name(self.pick(rng))
                    t0 = time.perf_counter()
                    load(table)
                elif op in ("commit_table", "commit_transaction"):
                    k = 1 if op == "commit_table" else rng.randint(2, 4)
                    picked: list[str] = []
                    while len(picked) < k:
                        table = cs.table_name(self.pick(rng))
                        if table not in picked:
                            picked.append(table)
                    t0 = time.perf_counter()
                    for attempt in range(1, RETRY_CAP + 1):
                        # like an Iceberg client's commit, every attempt
                        # refreshes the table metadata it builds on
                        changes = {t: self.change(load(t), t, rng) for t in picked}
                        try:
                            if op == "commit_table":
                                reqs, updates, _ = changes[table]
                                client.commit_table(ns, table, reqs, updates)
                            else:
                                client.commit_transaction([
                                    {"identifier": {"namespace": ns, "name": t},
                                     "requirements": reqs, "updates": updates}
                                    for t, (reqs, updates, _) in changes.items()])
                        except CatalogHTTPError as e:
                            if e.code != 409:
                                raise
                            continue
                        self.ledger.ack([ack for _, _, ack in changes.values()], attempt)
                        break
                    else:
                        raise RetriesExhausted(",".join(picked))
                elif op == "sign_s3":
                    key = self.s3_keys[self.pick(rng)]
                    uri = f"https://{SIGN_HOST}/{key}/data/part-{rng.getrandbits(32):08x}.parquet"
                    t0 = time.perf_counter()
                    signed = signer.sign_s3("GET", uri, region=cs.S3_PROFILE["region"])
                    if not signed["headers"].get("Authorization"):
                        raise RuntimeError("sign_s3 returned no Authorization header")
                else:
                    t0 = time.perf_counter()
                    if rng.random() < 0.5:
                        client.list_tables(ns)
                    else:
                        client.load_namespace(ns)
                t1 = time.perf_counter()
                if t0 >= start:
                    lat[op].append((t1 - t0) * 1000.0)
            except (CatalogHTTPError, RetriesExhausted, urllib.error.URLError, OSError,
                    RuntimeError) as e:
                failed[op] += 1
                errors.append(f"{op}: {type(e).__name__}: {e}")
        results.append({"lat": lat, "failed": failed, "errors": errors})

    def final_metadata(self) -> dict[str, dict]:
        from iceberg_rest_server_spark.catalog.client import RestCatalogClient

        client = RestCatalogClient(self.url)
        client.configure(cs.PROJECT, cs.LOCAL_WH)
        return {t: client.load_table(cs.NAMESPACE, t)["metadata"] for t in self.ledger.added}


def summarize(run: dict, seconds: float) -> tuple[dict, dict]:
    """End-to-end metrics and the per-op detail of one timed window.

    Latencies are medians over the whole window: medians over five
    slices of it, meant to shed bursts of hypervisor steal, spread twice
    as much from run to run on a quiet host."""
    lat = run["lat"]
    every = [v for values in lat.values() for v in values]
    metrics = {
        "ops_per_s": len(every) / seconds,
        "op_p50_ms": median(every),
        "op_p90_ms": percentile(every, 90),
        "read_p50_ms": median(lat["load_table"]),
        "write_p50_ms": median(lat["commit_table"]),
        "multi_p50_ms": median(lat["commit_transaction"]),
    }
    detail = {
        "load_table_p99_ms": percentile(lat["load_table"], 99),
        "commit_p99_ms": percentile(lat["commit_table"], 99),
        "sign_p50_ms": median(lat["sign_s3"]),
        "samples": {op: len(v) for op, v in lat.items()},
    }
    return metrics, detail


def count_metadata_files(warehouse: Path) -> int:
    return sum(1 for _ in warehouse.rglob("*.metadata.json"))


def server_dir(work: Path, name: str) -> Path:
    path = work / name
    path.mkdir()
    return path


def run(work: Path, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    tables = max(8, int(TABLES * scale))
    max_history = max(4, int(MAX_HISTORY * scale))
    setups, servers = [], []
    try:
        for i in range(SETUPS):
            if servers:
                servers[-1].stop()
                remove_dir(servers[-1].dir)
            servers.append(CatalogServer(
                server_dir(work, f"catalog-{i}"), seed, tables, max_history, False))
            setups.append(servers[-1].setup_s)
        server = servers[-1]
        load = Workload(server.url, seed, tables, max_history)
        res = load.run(seconds, WARMUP_S)
        rss = peak_rss_mb(server.proc.pid)
        problems = check_ledger(load.ledger, load.final_metadata())
        metrics, detail = summarize(res, seconds)
        detail["conflict_retries"] = load.ledger.attempts - load.ledger.acked
        detail["correctness_problems"] = problems[:10]
        detail["errors"] = res["errors"][:10]
        attempted = sum(len(v) for v in res["lat"].values()) + sum(res["failed"].values())
        failed = sum(res["failed"].values()) + len(problems)
        out = {
            "attempted": attempted,
            "failed": failed,
            "correct": failed == 0,
            "metrics": {
                "setup_s": metric(median(setups), "s"),
                "peak_rss_mb": metric(rss, "MB"),
                **{k: metric(v, "1/s" if k == "ops_per_s" else "ms") for k, v in metrics.items()},
            },
            "detail": {**detail, "setup_samples_s": setups},
        }
        server.stop()
        if trace:
            out["layers"], out["detail"]["trace"] = traced_window(
                server_dir(work, "catalog-traced"), seed, seconds, tables, max_history, metrics)
        return out
    finally:
        for s in servers:
            s.stop()


def traced_window(workdir: Path, seed: int, seconds: float, tables: int, max_history: int,
                  untraced: dict) -> tuple[dict, dict]:
    """The same window against a traced server, with the client wrapped
    too; returns the per-layer metrics and the tracing overhead."""
    from iceberg_rest_server_spark.catalog.client import RestCatalogClient
    from spans import SpanTree, Tracer

    server = CatalogServer(workdir, seed, tables, max_history, True)
    tracer = Tracer()
    tracer.wrap_methods(RestCatalogClient, "client")
    try:
        load = Workload(server.url, seed, tables, max_history)
        files_before = count_metadata_files(server.dir / "warehouse")
        cpu0 = cpu_seconds(server.proc.pid)
        res = load.run(seconds, WARMUP_S)
        cpu1 = cpu_seconds(server.proc.pid)
        files_after = count_metadata_files(server.dir / "warehouse")
    finally:
        tracer.restore()
        server.stop()
    with open(server.dir / "spans.json") as fh:
        dumped = json.load(fh)
    traced, _ = summarize(res, seconds)
    start, end = res["start"], res["end"]
    in_window = [s for s in dumped["spans"] if start <= s[3] < end]
    server_tree = SpanTree(in_window)
    client_spans = [s for s in tracer.spans if start <= s[3] < end]
    ops = sum(len(v) for v in res["lat"].values())
    dispatch = server_tree.named("catalog.server.dispatch")
    commits = server_tree.named("catalog.store.commit_transaction")
    loads = server_tree.named("catalog.store.load_table")
    signs = server_tree.named("catalog.s3_signer.sign")
    resolves = server_tree.named("catalog.store.resolve_table_by_location")
    writes = server_tree.named("catalog.io.write")

    def mean(xs: list[float]) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    def per_commit(layer: str) -> float:
        return mean([server_tree.layer_time(c, layer) * 1000 for c in commits])

    client_ms = mean([(s[4] - s[3]) * 1000 for s in client_spans])
    dispatch_ms = mean([server_tree.duration(d) * 1000 for d in dispatch])
    layers = {
        "catalog.client.self_ms": client_ms - dispatch_ms,
        "catalog.server.self_ms": mean(
            [server_tree.exclusive(d) * 1000 for d in dispatch]),
        "catalog.server.response_bytes": dumped["counts"].get("response_bytes", 0)
        / max(1, dumped["counts"].get("responses", 0)),
        "catalog.server.cpu_ms_per_op": (cpu1 - cpu0) * 1000 / max(1, ops),
        "catalog.store.load_ms": mean([server_tree.duration(x) * 1000 for x in loads]),
        "catalog.store.commit_self_ms": per_commit("catalog.store"),
        "catalog.store.lock_wait_ms": per_commit("lockwait"),
        "catalog.store.cas_conflicts_per_commit": load.ledger.attempts / max(1, load.ledger.acked),
        "catalog.metadata.build_ms": per_commit("catalog.metadata"),
        "catalog.io.files_written": len(writes),
        "catalog.io.bytes_per_commit": dumped["counts"].get("io_bytes", 0)
        / max(1, dumped["counts"].get("io_files", 0)),
        "catalog.io.write_ms": per_commit("catalog.io"),
        "catalog.io.orphan_files": (files_after - files_before) - load.ledger.acked_files,
        "catalog.events.write_ms": per_commit("catalog.events"),
        "catalog.s3_signer.sign_ms": mean([server_tree.duration(x) * 1000 for x in signs]),
        "catalog.store.resolve_by_location_ms": mean(
            [server_tree.duration(x) * 1000 for x in resolves]),
    }
    overhead = {k: traced[k] - untraced[k] for k in untraced}
    return layers, {
        "overhead_traced_minus_untraced": overhead,
        "requests": len(dispatch),
        "server_share": server_share(server_tree, client_spans),
    }


def server_share(tree, client_spans: list[list]) -> dict:
    """How the server's spans account for the client-seen latency of
    load_table and commit_table requests: mean client span, mean server
    dispatch span, and the dispatch split into layers (ms)."""
    layers = ("catalog.server", "catalog.store", "lockwait", "catalog.metadata",
              "catalog.io", "catalog.events")
    out = {}
    for route, store_call in (("load_table", "catalog.store.load_table"),
                              ("commit_table", "catalog.store.commit_transaction")):
        dispatch = [d for d in tree.named("catalog.server.dispatch")
                    if any(tree.spans[c][2] == store_call for c in tree.children.get(d, ()))]
        client = [(s[4] - s[3]) * 1000 for s in client_spans if s[2] == f"client.{route}"]
        if not dispatch or not client:
            continue
        n = len(dispatch)
        out[route] = {
            "client_ms": sum(client) / len(client),
            "server_ms": sum(tree.duration(d) for d in dispatch) * 1000 / n,
            **{f"{layer}_ms": sum(tree.layer_time(d, layer) for d in dispatch) * 1000 / n
               for layer in layers},
        }
    return out
