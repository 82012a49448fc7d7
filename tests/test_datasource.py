"""Spark 4 Python Data Source (`format("iceberg_rest")`) over the REST
catalog: field-id mapping, schema-evolution backfill, time travel,
per-file partitioning, empty tables."""

from __future__ import annotations

import os
import tempfile
import urllib.parse
from collections import Counter

import pytest

from pyspark.sql import functions as F

from iceberg_rest_server_spark.catalog.client import RestCatalogClient
from iceberg_rest_server_spark.catalog.datasource import (
    IcebergRestDataSource,
    IcebergRestReader,
)
from iceberg_rest_server_spark.catalog.server import ServerThread
from iceberg_rest_server_spark.catalog.spark_table import (
    SparkCatalogTable,
    iceberg_schema_from_spark,
)


@pytest.fixture()
def ds_env(spark):
    spark.dataSource.register(IcebergRestDataSource)
    with ServerThread() as server, tempfile.TemporaryDirectory() as wh:
        client = RestCatalogClient(server.base_url)
        client.create_warehouse("p", "wh", wh)
        client.configure("p", "wh")
        client.create_namespace(["ns"])
        df = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
        client.create_table(["ns"], "t", iceberg_schema_from_spark(df.schema))
        yield spark, server, client, SparkCatalogTable(spark, client, ["ns"], "t"), df


def _read(spark, server, **extra):
    r = (
        spark.read.format("iceberg_rest")
        .option("uri", server.base_url)
        .option("project", "p")
        .option("warehouse", "wh")
        .option("namespace", "ns")
        .option("table", "t")
    )
    for k, v in extra.items():
        r = r.option(k, v)
    return r.load()


def _opts(server, **extra) -> dict:
    return {
        "uri": server.base_url,
        "project": "p",
        "warehouse": "wh",
        "namespace": "ns",
        "table": "t",
        **{k: str(v) for k, v in extra.items()},
    }


def _head(table, df):
    table.append(df)
    table.append(df)
    return {}, {}


def _snapshot_id(table, df):
    table.append(df)
    first = table.metadata()["current-snapshot-id"]
    table.append(df)
    return {"snapshot_id": first}, {}


def _branch(table, df):
    table.append(df)
    table.create_branch("dev")
    table.append(df.limit(3), branch="dev")
    table.append(df)
    return {"ref": "dev"}, {}


def _evolve(table, df):
    table.drop_column("v")
    table.add_column("extra", "string")
    table.append(df.select("k", F.lit("x").alias("extra")))


def _tag(table, df):
    # the tag binds the schema it was taken under: the tagged values of
    # the dropped `v` stay readable, and the later `extra` does not appear
    table.append(df)
    table.create_tag("v1")
    _evolve(table, df)
    return {"ref": "v1"}, {}


def _add_drop_column(table, df):
    table.append(df)
    _evolve(table, df)
    return {}, {}


def _partition_filter(table, df):
    table.add_partition_field("k", "bucket[4]", "k_bucket")
    table.append(df)
    table.append(df)
    return {}, {"k": 7}


@pytest.mark.parametrize(
    "setup",
    [_head, _snapshot_id, _branch, _tag, _add_drop_column, _partition_filter],
    ids=["head", "snapshot_id", "branch", "tag", "add_drop_column", "partition_filter"],
)
def test_read_matches_catalog_read(ds_env, setup):
    """The Data Source and SparkCatalogTable read the same snapshot the
    same way: same columns and types, same rows, and the same planned
    data files (after partition pruning, for an equality filter)."""
    from pyspark.sql.datasource import EqualTo

    spark, server, client, table, df = ds_env
    target, eq = setup(table, df)
    via_catalog = table.read_where(eq, **target) if eq else table.read(**target)
    via_ds = _read(spark, server, **target)
    for col, val in eq.items():
        via_ds = via_ds.filter(F.col(col) == val)
    assert via_ds.dtypes == via_catalog.dtypes
    assert Counter(map(tuple, via_ds.collect())) == Counter(map(tuple, via_catalog.collect()))

    reader = IcebergRestReader(_opts(server, **target))
    reader.pushFilters([EqualTo((col,), val) for col, val in eq.items()])
    planned = sorted(p.path for p in reader.partitions())
    kept = sorted(urllib.parse.unquote(urllib.parse.urlparse(u).path)
                  for u in via_catalog.inputFiles())
    assert planned == kept
    if eq:  # the filter really pruned
        assert len(planned) < len(IcebergRestReader(_opts(server, **target)).partitions())


def test_empty_table_reads_zero_rows(ds_env):
    spark, server, *_ = ds_env
    assert _read(spark, server).count() == 0


def test_schema_evolution_backfills_nulls(ds_env):
    spark, server, client, table, df = ds_env
    table.append(df)
    table.add_column("extra", "string")
    table.append(df.withColumn("extra", F.lit("x")))
    back = _read(spark, server)
    assert back.count() == 20
    assert back.filter(F.col("extra").isNull()).count() == 10
    assert back.filter(F.col("extra") == "x").count() == 10


def test_snapshot_time_travel(ds_env):
    spark, server, client, table, df = ds_env
    table.append(df)
    snap1 = table.metadata()["current-snapshot-id"]
    table.append(df)
    assert _read(spark, server, snapshot_id=str(snap1)).count() == 10
    assert _read(spark, server).count() == 20
    assert _read(spark, server, ref="main").count() == 20


def test_one_partition_per_data_file(ds_env):
    spark, server, client, table, df = ds_env
    table.append(df)
    table.append(df)
    reader = IcebergRestReader(
        {
            "uri": server.base_url,
            "project": "p",
            "warehouse": "wh",
            "namespace": "ns",
            "table": "t",
        }
    )
    parts = reader.partitions()
    assert len(parts) >= 2  # two appends ⇒ at least two files
    assert all(p.path.endswith(".parquet") for p in parts)


def test_write_append_and_overwrite(ds_env):
    spark, server, client, table, df = ds_env

    def w(frame, mode):
        x = (
            frame.write.format("iceberg_rest")
            .option("uri", server.base_url)
            .option("project", "p")
            .option("warehouse", "wh")
            .option("namespace", "ns")
            .option("table", "t")
        )
        x.mode(mode).save()

    w(df.repartition(4), "append")
    assert table.read().count() == 10
    assert table.read().agg(F.sum("k")).collect()[0][0] == sum(range(10))
    w(df, "append")
    assert table.read().count() == 20
    w(df.limit(3), "overwrite")
    assert table.read().count() == 3
    # every write is one snapshot; history intact
    assert len(table.metadata()["snapshots"]) == 3
    summaries = [s["summary"]["writer"] for s in table.metadata()["snapshots"]]
    assert summaries == ["python-datasource"] * 3


def test_write_empty_partitions_produce_no_files(ds_env):
    spark, server, client, table, df = ds_env
    x = (
        df.repartition(32)  # most partitions empty at 10 rows
        .write.format("iceberg_rest")
        .option("uri", server.base_url)
        .option("project", "p")
        .option("warehouse", "wh")
        .option("namespace", "ns")
        .option("table", "t")
    )
    x.mode("append").save()
    assert table.read().count() == 10
    snap = table.metadata()["snapshots"][-1]
    assert int(snap["summary"]["added-files"]) <= 10  # no empty-file spam


def test_datasource_write_readable_by_catalog_and_datasource(ds_env):
    spark, server, client, table, df = ds_env
    x = (
        df.write.format("iceberg_rest")
        .option("uri", server.base_url)
        .option("project", "p")
        .option("warehouse", "wh")
        .option("namespace", "ns")
        .option("table", "t")
    )
    x.mode("append").save()
    via_catalog = {tuple(r) for r in table.read().collect()}
    via_ds = {tuple(r) for r in _read(spark, server).collect()}
    assert via_catalog == via_ds == {(i, i * 2.0) for i in range(10)}


def test_push_filters_prune_partition_files(spark):
    """Equality filters on partition-source columns prune InputPartitions
    (manifest-level file skipping through the Spark 4 pushdown hook);
    results stay exact because Spark re-applies every filter."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    spark.dataSource.register(IcebergRestDataSource)
    with ServerThread() as server, tempfile.TemporaryDirectory() as wh:
        client = RestCatalogClient(server.base_url)
        client.create_warehouse("p", "wh", wh)
        client.configure("p", "wh")
        client.create_namespace(["ns"])
        df = spark.range(100).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("bucket_col"),
        )
        client.create_table(["ns"], "t", iceberg_schema_from_spark(df.schema))
        table = SparkCatalogTable(spark, client, ["ns"], "t")
        table.add_partition_field("bucket_col", "identity", "bucket_col_part")
        table.append(df)

        opts = {
            "uri": server.base_url,
            "project": "p",
            "warehouse": "wh",
            "namespace": "ns",
            "table": "t",
        }
        reader = IcebergRestReader(opts)
        all_parts = len(reader.partitions())
        assert all_parts >= 4  # one file per partition value at least

        pruned = IcebergRestReader(opts)
        leftover = list(
            pruned.pushFilters([EqualTo(("bucket_col",), 2), GreaterThan(("k",), 10)])
        )
        # every filter is returned for Spark to re-apply
        assert len(leftover) == 2
        assert len(pruned.partitions()) < all_parts

        # end-to-end: filtered read through Spark matches the truth
        r = spark.read.format("iceberg_rest")
        for k, v in opts.items():
            r = r.option(k, v)
        got = r.load().filter("bucket_col = 2 and k > 10").count()
        assert got == sum(1 for i in range(100) if i % 4 == 2 and i > 10)


def test_stream_read_tails_snapshots(ds_env):
    """readStream.format('iceberg_rest'): first drain reads the current
    table, a second drain from the same checkpoint reads ONLY snapshots
    committed since — exactly-once incremental tailing by snapshot id."""
    spark, server, client, table, df = ds_env
    table.append(df)  # 0..9
    with tempfile.TemporaryDirectory() as tmp:
        out_dir = os.path.join(tmp, "out")

        def drain():
            r = spark.readStream.format("iceberg_rest")
            for k, v in {
                "uri": server.base_url,
                "project": "p",
                "warehouse": "wh",
                "namespace": "ns",
                "table": "t",
            }.items():
                r = r.option(k, v)
            q = (
                r.load()
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return sorted(r.k for r in spark.read.parquet(out_dir).collect())

        assert drain() == list(range(10))
        table.append(
            spark.range(100, 105).select(
                F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
            )
        )
        # same checkpoint: only the delta lands — no re-read, no dupes
        assert drain() == list(range(10)) + list(range(100, 105))


def test_stream_read_rejects_overwrite_in_range(ds_env):
    """An overwrite snapshot inside the offset range must fail the
    stream (its row-level delta is not an append-only file diff) —
    Iceberg's streaming contract; read_incremental fails the same way."""
    from iceberg_rest_server_spark.catalog.datasource import (
        IcebergRestStreamReader,
    )

    spark, server, client, table, df = ds_env
    table.append(df)
    first = table.metadata()["current-snapshot-id"]
    table.overwrite(df.limit(3))
    reader = IcebergRestStreamReader(
        {
            "uri": server.base_url,
            "project": "p",
            "warehouse": "wh",
            "namespace": "ns",
            "table": "t",
        }
    )
    head = reader.latestOffset()
    with pytest.raises(ValueError, match="append-only"):
        reader.partitions({"snapshot_id": first}, head)
    with pytest.raises(ValueError, match="append-only"):
        table.read_incremental(first)


def test_failed_write_commits_nothing(ds_env):
    """A write job that fails on any task must leave the table untouched:
    no snapshot, no visible rows — the commit is all-or-nothing because
    only the driver's commit() publishes files."""
    spark, server, client, table, df = ds_env

    @F.udf("double")
    def boom(v):
        raise RuntimeError("task failure")

    bad = df.withColumn("v", boom(F.col("v")))
    x = (
        bad.write.format("iceberg_rest")
        .option("uri", server.base_url)
        .option("project", "p")
        .option("warehouse", "wh")
        .option("namespace", "ns")
        .option("table", "t")
    )
    with pytest.raises(Exception):
        x.mode("append").save()
    assert table.read().count() == 0
    assert table.metadata()["snapshots"] == []


def test_stream_read_rejects_rewritten_history(ds_env):
    """If the checkpointed start offset is no longer an ancestor of end
    (rollback_to followed by new commits), the ancestor walk must fail
    loudly — NOT silently re-emit the whole table as newly-added files
    (duplicate delivery). read_incremental fails the same way."""
    from iceberg_rest_server_spark.catalog.datasource import (
        IcebergRestStreamReader,
    )

    spark, server, client, table, df = ds_env
    table.append(df)
    base = table.metadata()["current-snapshot-id"]
    table.append(df)
    orphaned = table.metadata()["current-snapshot-id"]
    table.rollback_to(base)
    table.append(df)  # history rewritten: `orphaned` is no longer an ancestor
    reader = IcebergRestStreamReader(
        {
            "uri": server.base_url,
            "project": "p",
            "warehouse": "wh",
            "namespace": "ns",
            "table": "t",
        }
    )
    head = reader.latestOffset()
    with pytest.raises(ValueError, match="not an ancestor"):
        reader.partitions({"snapshot_id": orphaned}, head)
    with pytest.raises(ValueError, match="not an ancestor"):
        table.read_incremental(orphaned)
    # the full initial read (start=-1) still works on the new history
    parts = reader.partitions({"snapshot_id": -1}, head)
    assert len(parts) >= 1


def test_write_missing_column_raises(ds_env):
    """A DataFrame missing a table column must fail with a clear error —
    pyarrow's get_field_index returns -1 for a missing name and
    batch.column(-1) would silently write the LAST column's data into
    the missing field."""
    spark, server, client, table, df = ds_env
    bad = df.select("k")  # drops required column v
    x = (
        bad.write.format("iceberg_rest")
        .option("uri", server.base_url)
        .option("project", "p")
        .option("warehouse", "wh")
        .option("namespace", "ns")
        .option("table", "t")
    )
    with pytest.raises(Exception, match="missing from input DataFrame"):
        x.mode("append").save()
    # and nothing was committed
    assert table.metadata().get("current-snapshot-id") in (None, -1)
