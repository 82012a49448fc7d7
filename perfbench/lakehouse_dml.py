"""The lakehouse DML script, measured in ``query-mix``'s traced run: Spark
writes and reads a lineitem-derived table through the catalog, which
runs as its own server process.

The script starts from a fresh table partitioned by
``identity(l_returnflag)``: SLICES appends of generated lineitem slices,
a ``merge`` upsert on ``row_id`` after every MERGE_EVERY appends and a
snapshot read after every SCAN_EVERY, then ``delete_where``, ``compact``,
a time-travel read and a filtered ``spark.read.format("iceberg_rest")``
read. Its scans and final table are checked against a pandas
recomputation of the same script.

It is not a timed workload of its own: ten runs of it spread by more
than a bound allows on a shared 4-vCPU host (see README.md), so it
yields the ``catalog.spark_table`` and ``catalog.datasource`` per-layer
metrics only.
"""

from __future__ import annotations

import time
from collections import defaultdict
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import catalog_server as cs
import datagen
from catalog_rest import CatalogServer
from common import median

SF = 0.01
SLICES = 16
MERGE_EVERY = 4
SCAN_EVERY = 2
MERGE_UPDATES = 300
MERGE_INSERTS = 100
DELETE_DISCOUNT = 0.1
WRITE_METHODS = ("append", "merge", "delete_where", "compact")


def script_inputs(seed: int, sf: float, directory: Path) -> dict:
    """Append slices and merge sources as parquet files, plus the
    expected table after each step (pandas, the plain recomputation)."""
    li = datagen.tables(seed, sf)["lineitem"].to_pandas()
    li.insert(0, "row_id", np.arange(len(li), dtype=np.int64))
    rng = np.random.default_rng(seed + 17)
    bounds = np.linspace(0, len(li), SLICES + 1).astype(int)
    slices, merges = [], []
    for i in range(SLICES):
        slices.append(li.iloc[bounds[i]:bounds[i + 1]].reset_index(drop=True))
        if (i + 1) % MERGE_EVERY == 0:
            upd = li.iloc[rng.choice(bounds[i + 1], MERGE_UPDATES, replace=False)].copy()
            upd["l_quantity"] = upd["l_quantity"] + 1.0
            upd["l_extendedprice"] = np.round(upd["l_extendedprice"] * 1.05, 2)
            new = li.iloc[rng.choice(len(li), MERGE_INSERTS, replace=False)].copy()
            new["row_id"] = len(li) + len(merges) * MERGE_INSERTS + np.arange(MERGE_INSERTS)
            merges.append(pd.concat([upd, new]).reset_index(drop=True))
    directory.mkdir(parents=True, exist_ok=True)
    paths = {"slices": [], "merges": []}
    for kind, frames in (("slices", slices), ("merges", merges)):
        for j, frame in enumerate(frames):
            path = directory / f"{kind}-{j}.parquet"
            pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)
            paths[kind].append(str(path))
    state = li.iloc[:0]
    expected = {"scans": []}
    for i in range(SLICES):
        state = pd.concat([state, slices[i]])
        if (i + 1) % MERGE_EVERY == 0:
            src = merges[(i + 1) // MERGE_EVERY - 1]
            state = pd.concat([state[~state["row_id"].isin(src["row_id"])], src])
        if (i + 1) % SCAN_EVERY == 0:
            expected["scans"].append(_agg(state))
        if i == SLICES // 2 - 1:
            expected["time_travel"] = _agg(state)
    state = state[~(state["l_discount"] >= DELETE_DISCOUNT)]
    expected["scans"].append(expected["time_travel"])
    expected["scans"].append(_agg(state[state["l_returnflag"] == "R"]))
    expected["final"] = state.reset_index(drop=True)
    paths["expected"] = expected
    return paths


def _agg(frame: pd.DataFrame) -> tuple[int, float]:
    return len(frame), float(frame["l_extendedprice"].sum())


def frame_hash(frame: pd.DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive content hash) with dtypes normalized:
    integers as int64, timestamps as epoch microseconds."""
    frame = frame[sorted(frame.columns)].copy()
    for c in frame.columns:
        if pd.api.types.is_datetime64_any_dtype(frame[c]):
            frame[c] = frame[c].astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_integer_dtype(frame[c]):
            frame[c] = frame[c].astype("int64")
    hashed = pd.util.hash_pandas_object(frame, index=False).to_numpy(dtype=np.uint64)
    return len(frame), int(hashed.sum(dtype=np.uint64))


def check_table(actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    if frame_hash(actual) != frame_hash(expected):
        return [f"final table differs: {frame_hash(actual)} != {frame_hash(expected)}"]
    return []


def check_scans(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> list[str]:
    problems = []
    for i, ((n, s), (wn, ws)) in enumerate(zip(got, want)):
        if n != wn or abs(s - ws) > 1e-6 * max(1.0, abs(ws)):
            problems.append(f"scan {i}: ({n}, {s}) != ({wn}, {ws})")
    if len(got) != len(want):
        problems.append(f"{len(got)} scans, expected {len(want)}")
    return problems


class Script:
    def __init__(self, spark, url: str, inputs: dict):
        from iceberg_rest_server_spark.catalog.client import RestCatalogClient
        from iceberg_rest_server_spark.catalog.datasource import IcebergRestDataSource

        self.spark, self.url, self.inputs = spark, url, inputs
        spark.dataSource.register(IcebergRestDataSource)
        self.client = RestCatalogClient(url)
        self.client.configure(cs.PROJECT, cs.LOCAL_WH)
        self.slices = [spark.read.parquet(p) for p in inputs["slices"]]
        self.merges = [spark.read.parquet(p) for p in inputs["merges"]]

    def create(self, name: str):
        from iceberg_rest_server_spark.catalog.spark_table import (
            SparkCatalogTable,
            iceberg_schema_from_spark,
        )

        schema = iceberg_schema_from_spark(self.slices[0].schema)
        flag = next(f["id"] for f in schema["fields"] if f["name"] == "l_returnflag")
        self.client.create_table(
            cs.NAMESPACE, name, schema,
            partition_spec={"spec-id": 0, "fields": [
                {"source-id": flag, "name": "l_returnflag", "transform": "identity"}]})
        return SparkCatalogTable(self.spark, self.client, cs.NAMESPACE, name)

    def datasource_read(self, name: str):
        from pyspark.sql import functions as F

        return (self.spark.read.format("iceberg_rest")
                .option("uri", self.url).option("project", cs.PROJECT)
                .option("warehouse", cs.LOCAL_WH).option("namespace", cs.NAMESPACE[0])
                .option("table", name).load()
                .filter(F.col("l_returnflag") == "R"))

    def run(self, name: str, op, slices: int = SLICES) -> list[tuple[int, float]]:
        """One iteration on a fresh table; ``op(kind, fn)`` runs and times
        each step. Returns the (rows, sum) result of every scan."""
        from pyspark.sql import functions as F

        def agg(df):
            row = df.agg(F.count("*"), F.sum("l_extendedprice")).collect()[0]
            return int(row[0]), float(row[1] or 0.0)

        table = self.create(name)
        scans, mid = [], None
        for i in range(slices):
            op("append", lambda: table.append(self.slices[i]))
            if (i + 1) % MERGE_EVERY == 0:
                src = self.merges[(i + 1) // MERGE_EVERY - 1]
                op("merge", lambda: table.merge(src, on=["row_id"]))
            if (i + 1) % SCAN_EVERY == 0:
                scans.append(op("scan", lambda: agg(table.read())))
            if i == SLICES // 2 - 1:
                mid = table.metadata()["current-snapshot-id"]
        op("delete", lambda: table.delete_where(F.col("l_discount") >= DELETE_DISCOUNT))
        op("compact", lambda: table.compact(target_partitions=2))
        if mid is not None:
            scans.append(op("scan", lambda: agg(table.read(snapshot_id=mid))))
        scans.append(op("scan", lambda: agg(self.datasource_read(name))))
        return scans

    def final(self, name: str) -> pd.DataFrame:
        from iceberg_rest_server_spark.catalog.spark_table import SparkCatalogTable

        return SparkCatalogTable(self.spark, self.client, cs.NAMESPACE, name).read().toPandas()


def traced_script(spark, probe, work: Path, seed: int, scale: float) -> dict:
    """Start a catalog server, warm the script up on a short untimed
    iteration, then run one iteration with SparkCatalogTable and the REST
    client wrapped in spans and every step measured by ``probe``.
    Returns the per-layer metrics, a detail record, the number of steps
    and the correctness problems found."""
    inputs = script_inputs(seed, SF * scale, work / "dml-inputs")
    (work / "dml-catalog").mkdir()
    server = CatalogServer(work / "dml-catalog", seed, 0, 1, False)
    try:
        script = Script(spark, server.url, inputs)
        script.run("warmup", lambda kind, fn: fn(), slices=MERGE_EVERY)
        out = traced_iteration(script, probe)
        problems = check_scans(out.pop("scans"), inputs["expected"]["scans"])
        problems += check_table(script.final(out.pop("table")), inputs["expected"]["final"])
        return {**out, "problems": problems}
    finally:
        server.stop()


def traced_iteration(script: Script, probe) -> dict:
    from iceberg_rest_server_spark.catalog.client import RestCatalogClient
    from iceberg_rest_server_spark.catalog.spark_table import SparkCatalogTable
    from spans import SpanTree, Tracer
    from spark_probe import mean_layers

    tracer = Tracer()
    tracer.wrap_methods(RestCatalogClient, "client")
    tracer.wrap_methods(SparkCatalogTable, "catalog.spark_table")
    records: dict[str, list[dict]] = defaultdict(list)
    lat: dict[str, list[float]] = defaultdict(list)

    def probed(kind, fn):
        out, wall, layer = probe.measure(fn)
        records[kind].append(layer)
        lat[kind].append(wall)
        return out

    name = "lineitem_traced"
    start = time.perf_counter()
    try:
        scans = script.run(name, probed)
    finally:
        tracer.restore()
    elapsed = time.perf_counter() - start
    tree = SpanTree(tracer.spans)
    ops = [sid for sid in tree.roots() if tree.spans[sid][2].startswith("catalog.spark_table.")]
    writes = [sid for sid in ops if tree.spans[sid][2].rsplit(".", 1)[1] in WRITE_METHODS]

    def client_calls(sid: int) -> int:
        return sum(1 for s in tree.subtree(sid) if tree.spans[s][2].startswith("client."))

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    table = SparkCatalogTable(script.spark, script.client, cs.NAMESPACE, name)
    metadata = table.metadata()
    snap = next(s for s in metadata["snapshots"]
                if s["snapshot-id"] == metadata["current-snapshot-id"])
    layers = {
        "catalog.spark_table.catalog_calls_per_op": mean([client_calls(s) for s in ops]),
        "catalog.spark_table.catalog_ms": mean(
            [tree.layer_time(s, "client") * 1000 for s in ops]),
        "catalog.spark_table.cas_retries": tracer.counts.get("client.commit_table!409", 0.0),
        "catalog.spark_table.write_self_ms": mean(
            [(tree.duration(s) - tree.layer_time(s, "client")) * 1000 for s in writes]),
        "catalog.datasource.files_planned": len(table._snapshot_files(metadata, snap)),
        "catalog.datasource.files_read": script.datasource_read(name).rdd.getNumPartitions(),
    }
    return {
        "layers": layers,
        "detail": {
            "dml_wall_s": elapsed,
            **{f"{kind}_p50_s": median(lat[kind]) for kind in ("append", "merge", "scan")},
            "per_op_type": {k: mean_layers(v) for k, v in records.items()},
        },
        "steps": sum(len(v) for v in lat.values()),
        "scans": scans,
        "table": name,
    }
