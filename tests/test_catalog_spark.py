"""Spark ⇄ catalog integration: schema/partition evolution mid-data and
metadata-file IO — mirrors the reference's test_spark.py evolution cases
(test_spark.py:192-264) against our REST server + snapshot table layer."""

from __future__ import annotations

import os
import tempfile
import urllib.parse

import pytest
from pyspark.sql import functions as F

from iceberg_rest_server_spark.catalog.client import RestCatalogClient
from iceberg_rest_server_spark.catalog.io import read_metadata_file
from iceberg_rest_server_spark.catalog.server import ServerThread
from iceberg_rest_server_spark.catalog.spark_table import (
    SparkCatalogTable,
    iceberg_schema_from_spark,
)


@pytest.fixture()
def table_env(spark):
    with ServerThread() as server, tempfile.TemporaryDirectory() as wh:
        client = RestCatalogClient(server.base_url)
        client.create_warehouse("p", "wh", wh)
        client.configure("p", "wh")
        client.create_namespace(["ns"])
        df = spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        client.create_table(["ns"], "t", iceberg_schema_from_spark(df.schema))
        yield spark, client, SparkCatalogTable(spark, client, ["ns"], "t"), df


def test_metadata_file_written_gzip(table_env):
    spark, client, table, df = table_env
    table.append(df)
    loaded = client.load_table(["ns"], "t")
    on_disk = read_metadata_file(loaded["metadata-location"])
    assert on_disk["table-uuid"] == loaded["metadata"]["table-uuid"]
    assert on_disk["current-snapshot-id"] == loaded["metadata"]["current-snapshot-id"]


def test_incremental_read_of_empty_table_raises(table_env):
    """The wire omits a null current-snapshot-id, so a table with no
    snapshots has no such key at all."""
    spark, client, table, df = table_env
    assert "current-snapshot-id" not in table.metadata()
    with pytest.raises(ValueError, match="table has no snapshots"):
        table.read_incremental(1)


def test_schema_evolution_mid_data(table_env):
    spark, client, table, df = table_env
    table.append(df)
    table.add_column("extra", "double")
    # new writes carry the new column; old files backfill nulls on read
    df2 = spark.range(5, 8).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        (F.col("id") + 0.5).alias("extra"),
    )
    table.append(df2)
    out = table.read()
    assert set(out.columns) == {"k", "v", "extra"}
    assert out.count() == 8
    assert out.filter(F.col("extra").isNull()).count() == 5
    m = table.metadata()
    assert len(m["schemas"]) == 2 and m["last-column-id"] == 3

    table.drop_column("extra")
    out2 = table.read()
    assert set(out2.columns) == {"k", "v"}
    assert out2.count() == 8
    # last-column-id never regresses after a column drop
    assert table.metadata()["last-column-id"] == 3


def test_partition_evolution_field_ids(table_env):
    spark, client, table, df = table_env
    table.append(df)
    table.add_partition_field("k", "bucket[4]", "k_bucket")
    m = table.metadata()
    spec = next(s for s in m["partition-specs"] if s["spec-id"] == m["default-spec-id"])
    assert [f["field-id"] for f in spec["fields"]] == [1000]
    table.add_partition_field("v", "identity", "v_ident")
    m = table.metadata()
    spec = next(s for s in m["partition-specs"] if s["spec-id"] == m["default-spec-id"])
    assert [f["field-id"] for f in spec["fields"]] == [1000, 1001]
    # data still readable across partition evolution
    assert table.read().count() == 5


def test_write_order_applied_on_append(table_env):
    """WRITE ORDERED BY: rows inside each data file follow the default
    sort order after set_write_order."""
    import pyarrow.parquet as pq

    spark, client, table, df = table_env
    table.set_write_order([("v", "desc")])
    table.append(df.coalesce(1))
    m = table.metadata()
    order = next(
        o for o in m["sort-orders"] if o["order-id"] == m["default-sort-order-id"]
    )
    assert order["fields"][0]["direction"] == "desc"
    snap = table._resolve_snapshot(m)
    files = table._snapshot_files(m, snap)
    # data files carry field-id names: v is field 2 (see _write_files)
    vals = pq.read_table(files[0]).column("f2").to_pylist()
    assert vals == sorted(vals, reverse=True)


@pytest.mark.parametrize(
    "colname",
    [
        "my floats",               # test_spark.py:167-172
        "m/y fl !? -_ä oats",      # test_spark.py:176-178
    ],
)
def test_partition_special_chars_in_column_name(spark, colname):
    """Reference matrix test_spark.py:169-178: partition columns with
    spaces/special characters work end-to-end (create partitioned table,
    insert, read back). Enabled by field-id file column names — plain
    parquet rejects these characters in field names."""
    import tempfile as _tf

    with ServerThread() as server, _tf.TemporaryDirectory() as wh:
        client = RestCatalogClient(server.base_url)
        client.create_warehouse("p", "wh", wh)
        client.configure("p", "wh")
        client.create_namespace(["ns"])
        df = spark.createDataFrame(
            [(1, 1.2, "foo"), (2, 2.2, "bar")], ["my_ints", colname, "strings"]
        )
        client.create_table(["ns"], "t", iceberg_schema_from_spark(df.schema))
        table = SparkCatalogTable(spark, client, ["ns"], "t")
        table.add_partition_field(colname, "identity", colname)
        table.append(df)
        out = table.read().orderBy("my_ints").collect()
        assert [r["my_ints"] for r in out] == [1, 2]
        assert [r[colname] for r in out] == [1.2, 2.2]
        assert [r["strings"] for r in out] == ["foo", "bar"]
        m = table.metadata()
        spec = next(s for s in m["partition-specs"] if s["spec-id"] == m["default-spec-id"])
        assert spec["fields"][0]["name"] == colname


def test_partitions_metadata_table(table_env):
    """`tbl.partitions` parity (test_spark.py:149-165): one row per
    distinct partition value, distributed counts."""
    spark, client, table, df = table_env
    table.add_partition_field("k", "identity", "k")
    table.append(df)  # k = 0..4, one row each
    rows = {r["partition"]: r for r in table.partitions_df().collect()}
    assert len(rows) == 5
    assert rows["{k=0}"]["record_count"] == 1
    assert all(r["file_count"] >= 1 for r in rows.values())


def test_change_partitioning_keeps_old_tuples(table_env):
    """test_spark.py:185-210: after DROP PARTITION FIELD, new rows land
    in the unpartitioned spec while old files keep their original
    partition tuple — .partitions shows both specs' rows."""
    spark, client, table, df = table_env
    table.add_partition_field("k", "identity", "k")
    table.append(df.filter(F.col("k") < 2))  # partitions {k=0}, {k=1}
    table.drop_partition_field("k")
    table.append(df.filter(F.col("k") == 2))  # unpartitioned spec
    rows = {(r["partition"], r["spec_id"]) for r in table.partitions_df().collect()}
    specs = {s for _, s in rows}
    parts = {p for p, _ in rows}
    assert len(rows) == 3 and len(specs) == 2
    assert "{k=0}" in parts and "{k=1}" in parts and "{}" in parts


def test_partitioned_write_clusters_files(table_env):
    """Hash write distribution: a partitioned append produces at most one
    file per partition tuple, not tasks×partitions small files."""
    spark, client, table, df = table_env
    table.add_partition_field("k", "identity", "k")
    table.append(df.repartition(8))  # deliberately scattered input
    n_files = table.files_df().count()
    n_parts = table.partitions_df().count()
    assert n_parts == 5
    assert n_files <= n_parts, (n_files, n_parts)
    assert table.read().count() == 5


def test_dropped_column_not_resurrected_on_readd(table_env):
    """Iceberg field-id semantics: DROP COLUMN then ADD COLUMN with the
    same name yields a fresh field id — old values must NOT reappear."""
    spark, client, table, df = table_env
    table.append(df)  # k, v populated
    table.drop_column("v")
    table.add_column("v", "long")
    out = table.read()
    assert out.filter(F.col("v").isNotNull()).count() == 0


def test_expire_snapshots_gc(table_env):
    """expire_snapshots drops unreferenced snapshots and deletes files
    only they reference; ref heads and the newest snapshot survive."""
    spark, client, table, df = table_env
    table.append(df)           # snap 1
    table.create_tag("keepme")
    table.overwrite(df.withColumn("v", F.col("v") + 1))  # snap 2 (new files)
    table.overwrite(df.withColumn("v", F.col("v") + 2))  # snap 3 (new files)
    m = table.metadata()
    snaps = sorted(m["snapshots"], key=lambda s: s["sequence-number"])
    snap2_files = set(table._snapshot_files(m, snaps[1]))
    out = table.expire_snapshots(retain_last=1)
    assert out["expired"] == 1          # snap 2: not tagged, not newest
    assert out["deleted_files"] == len(snap2_files)
    assert all(not os.path.exists(f) for f in snap2_files)
    # tag still readable, head still readable
    assert table.read(ref="keepme").count() == 5
    assert table.read().count() == 5
    assert table.snapshots_df().count() == 2


def test_remove_orphan_files(table_env):
    """Unreferenced files under data/ are deleted; referenced files and
    files inside the grace window survive."""
    import time as _time

    spark, client, table, df = table_env
    table.append(df)
    m = table.metadata()
    data_root = os.path.join(m["location"], "data")
    orphan = os.path.join(data_root, "aborted-write.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"junk")
    fresh = os.path.join(data_root, "inflight.parquet")
    with open(fresh, "wb") as fh:
        fh.write(b"junk")
    # grace cutoff between the ancient orphan and the fresh in-flight file
    cutoff = int(_time.time() * 1000) - 60_000
    os.utime(orphan, (0, 0))  # ancient
    out = table.remove_orphan_files(older_than_ms=cutoff)
    assert out["deleted_files"] == 1
    assert not os.path.exists(orphan) and os.path.exists(fresh)
    assert table.read().count() == 5  # table data untouched
    # no grace period: the in-flight file goes too
    assert table.remove_orphan_files()["deleted_files"] == 1
    assert table.read().count() == 5


def test_delete_where_null_predicate_rows_kept(table_env):
    """DELETE removes only rows where the condition is TRUE — rows where
    the predicate is NULL must survive (3-valued logic; ADVICE r1)."""
    spark, client, table, df = table_env
    table.add_column("extra", "double")
    with_nulls = spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, None), (3, 30, 3.0)], "k long, v long, extra double"
    )
    table.append(with_nulls)
    table.delete_where(F.col("extra") > 2.0)
    out = table.read().orderBy("k").collect()
    assert [r.k for r in out] == [1, 2]  # NULL-predicate row 2 kept


def test_time_travel_uses_snapshot_schema(table_env):
    """After tagging and then evolving the schema, a tag read returns the
    OLD shape (snapshot schema-id), while branch/current reads return the
    new shape (VERDICT r1 #5; mirrors reference time-travel semantics)."""
    spark, client, table, df = table_env
    table.append(df)
    table.create_tag("before_evolution")
    table.add_column("extra", "double")
    df2 = spark.range(5, 8).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        (F.col("id") + 0.5).alias("extra"),
    )
    table.append(df2)
    # tag read: old schema — no 'extra'
    old = table.read(ref="before_evolution")
    assert set(old.columns) == {"k", "v"}
    assert old.count() == 5
    # explicit snapshot-id read of the tagged snapshot: old schema too
    tag_snap = table.metadata()["refs"]["before_evolution"]["snapshot-id"]
    assert set(table.read(snapshot_id=tag_snap).columns) == {"k", "v"}
    # current/branch read: new schema
    assert set(table.read().columns) == {"k", "v", "extra"}
    assert set(table.read(ref="main").columns) == {"k", "v", "extra"}


def test_append_retries_through_cas_conflict(table_env):
    """A competing writer lands between our metadata load and commit:
    append must retry the metadata swap (NOT rewrite data files) and both
    writers' rows must survive."""
    from iceberg_rest_server_spark.catalog.client import RestCatalogClient

    spark, client, table, df = table_env
    table.append(df)
    base = table.read().count()

    rival = SparkCatalogTable(
        spark, RestCatalogClient(client.base_url), ["ns"], "t"
    )
    rival.client.configure("p", "wh")

    real_commit = client.commit_table
    injected = {"done": False}

    def racy_commit(ns, name, reqs, ups):
        if not injected["done"] and any(
            u.get("action") == "add-snapshot" for u in ups
        ):
            injected["done"] = True
            rival.append(df)  # advances the head → our CAS goes stale
        return real_commit(ns, name, reqs, ups)

    client.commit_table = racy_commit
    try:
        table.append(df)
    finally:
        client.commit_table = real_commit
    assert injected["done"]
    # all three appends' rows are present: nothing lost, nothing doubled
    assert table.read().count() == base * 3


def test_concurrent_commit_cas_conflict(table_env):
    """Two writers race on the same branch head: the loser's CAS fails."""
    from iceberg_rest_server_spark.catalog.client import CatalogHTTPError

    spark, client, table, df = table_env
    table.append(df)
    head = table.metadata()["refs"]["main"]["snapshot-id"]
    # writer B commits first
    table.append(df)
    # writer A replays a commit against the stale head
    with pytest.raises(CatalogHTTPError) as e:
        client.commit_table(
            ["ns"], "t",
            [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": head}],
            [{"action": "set-properties", "updates": {"stale": "1"}}],
        )
    assert e.value.code == 409


def test_create_or_replace(table_env):
    """createOrReplace parity (test_spark.py:56-62): same table identity,
    new schema, replaced data; replaced columns get fresh field ids so
    no old file can misbind by id."""
    spark, client, table, df = table_env
    table.append(df)
    uuid_before = table.metadata()["table-uuid"]
    new_df = spark.range(3).select(
        F.col("id").alias("k"),
        (F.col("id").cast("double") / 2).alias("ratio"),
        F.lit("x").alias("tagcol"),
    )
    table.create_or_replace(new_df)
    m = table.metadata()
    assert m["table-uuid"] == uuid_before
    got = table.read()
    assert set(got.columns) == {"k", "ratio", "tagcol"}
    assert got.count() == 3
    # fresh ids: no current field id may collide with the original schema's
    orig = m["schemas"][0]["fields"]
    cur = next(s for s in m["schemas"] if s["schema-id"] == m["current-schema-id"])
    assert {f["id"] for f in cur["fields"]}.isdisjoint({f["id"] for f in orig})
    # replace is repeatable (second createOrReplace, like the reference test)
    table.create_or_replace(new_df.limit(1))
    assert table.read().count() == 1


def test_tag_retention_expires_ref(table_env):
    """RETAIN semantics: an aged-out tag is dropped by expire_snapshots
    and its exclusive snapshot becomes expirable; a fresh tag survives."""
    spark, client, table, df = table_env
    table.append(df)                      # snap 1
    table.create_tag("old", max_ref_age_ms=1)   # ages out immediately
    table.append(df)                      # snap 2
    table.create_tag("fresh", max_ref_age_ms=10**12)
    table.append(df)                      # snap 3 (main head)
    import time as _t

    _t.sleep(0.005)
    stats = table.expire_snapshots(retain_last=1)
    refs = table.metadata()["refs"]
    assert "old" not in refs
    assert "fresh" in refs and "main" in refs
    assert stats["expired"] >= 1


def test_incremental_append_scan(table_env):
    """read_incremental returns exactly the rows appended after the
    `from` snapshot. It shares one rule set with the iceberg_rest stream
    reader, so every rejected case fails both surfaces with the same
    message: an overwrite in the range, a start that is not an ancestor
    (unknown, or orphaned by a rollback), an expired start, and a
    snapshot without an operation."""
    from iceberg_rest_server_spark.catalog.datasource import IcebergRestStreamReader

    spark, client, table, df = table_env
    stream = IcebergRestStreamReader(
        {"uri": client.base_url, "project": "p", "warehouse": "wh",
         "namespace": "ns", "table": "t"}
    )

    def keys(start):
        inc = table.read_incremental(start)
        planned = stream.partitions({"snapshot_id": start}, stream.latestOffset())
        assert sorted(p.path for p in planned) == sorted(
            urllib.parse.unquote(urllib.parse.urlparse(u).path) for u in inc.inputFiles()
        )
        return sorted(r["k"] for r in inc.collect())

    def rejects(match, start):
        with pytest.raises(ValueError, match=match):
            table.read_incremental(start)
        with pytest.raises(ValueError, match=match):
            stream.partitions({"snapshot_id": start}, stream.latestOffset())

    table.append(df)  # k ∈ 0..4
    snap1 = table.metadata()["current-snapshot-id"]
    table.append(df.withColumn("k", F.col("k") + 100))
    snap2 = table.metadata()["current-snapshot-id"]
    table.append(df.withColumn("k", F.col("k") + 200))
    assert keys(snap1) == sorted(list(range(100, 105)) + list(range(200, 205)))
    snap3 = table.metadata()["current-snapshot-id"]
    assert table.read_incremental(snap3).count() == 0
    table.overwrite(df)
    orphaned = table.metadata()["current-snapshot-id"]
    rejects("overwrite", snap1)
    rejects("append-only", snap1)
    # not-an-ancestor detection: an unknown id, and one a rollback orphaned
    rejects("ancestor", 12345)
    table.rollback_to(snap3)
    table.append(df.withColumn("k", F.col("k") + 300))
    rejects("ancestor", orphaned)
    assert keys(snap2) == sorted(list(range(200, 205)) + list(range(300, 305)))
    # an expired start: its file set is gone, so the diff is unknowable
    assert table.expire_snapshots(retain_last=3)["expired"] == 2  # snap1, snap2
    rejects("expired", snap2)
    # a snapshot without an operation cannot be shown to be an append
    m = table.metadata()
    head = next(s for s in m["snapshots"] if s["snapshot-id"] == m["current-snapshot-id"])
    client.commit_table(["ns"], "t", [], [
        {"action": "add-snapshot", "snapshot": {
            "snapshot-id": 777, "parent-snapshot-id": head["snapshot-id"],
            "manifest-list": head["manifest-list"], "summary": {}}},
        {"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": 777,
         "type": "branch"},
    ])
    rejects("append-only", head["snapshot-id"])


def test_partition_pruned_read(table_env):
    """read_where prunes data files via path-encoded partition tuples:
    an equality predicate on a bucket-partitioned column scans strictly
    fewer files, with results identical to filter-after-read."""
    spark, client, table, df = table_env
    table.add_partition_field("k", "bucket[4]", "k_bucket")
    big = spark.range(40).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    table.append(big)
    full = table.read()
    pruned = table.read_where({"k": 7})
    assert [r["v"] for r in pruned.collect()] == [70]
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # identity + truncate pruning on a second table write path: evolve to
    # truncate[10] and prune through BOTH specs' fields
    table.drop_partition_field("k_bucket")
    table.add_partition_field("k", "truncate[10]", "k_trunc")
    table.append(big.withColumn("k", F.col("k") + 100))
    p2 = table.read_where({"k": 105})
    assert [r["v"] for r in p2.collect()] == [50]
    assert len(p2.inputFiles()) < len(table.read().inputFiles())
    # no-match partition value → empty, zero files when all prunable
    assert table.read_where({"k": -1}).count() == 0


def test_rollback_to_snapshot(table_env):
    """rollback_to moves the branch head back to an ancestor: pure
    metadata, data files untouched, roll-forward equally possible."""
    spark, client, table, df = table_env
    table.append(df)                      # snap 1: 5 rows
    snap1 = table.metadata()["current-snapshot-id"]
    table.append(df)                      # snap 2: 10 rows
    snap2 = table.metadata()["current-snapshot-id"]
    assert table.read().count() == 10
    table.rollback_to(snap1)
    assert table.read().count() == 5
    assert table.metadata()["current-snapshot-id"] == snap1
    # abandoned snapshot still present until expire_snapshots
    assert snap2 in {s["snapshot-id"] for s in table.metadata()["snapshots"]}
    # roll FORWARD is rejected: snap2 is no longer an ancestor of main
    # (its parent chain is, but the head moved back), so re-attaching it
    # must go through a normal commit, not rollback
    import pytest as _pt

    with _pt.raises(ValueError, match="not an ancestor"):
        table.rollback_to(snap2)
    # appends continue from the rolled-back head
    table.append(df)
    assert table.read().count() == 10


def test_rollback_rejects_unrelated_snapshot(table_env):
    spark, client, table, df = table_env
    table.append(df)
    import pytest as _pt

    with _pt.raises(ValueError, match="not an ancestor"):
        table.rollback_to(123456789)


def test_history_metadata_table(table_env):
    """`tbl.history` parity: one row per made-current event, with
    is_current_ancestor=False marking lineage abandoned by a rollback."""
    spark, client, table, df = table_env
    table.append(df)                      # snap 1
    snap1 = table.metadata()["current-snapshot-id"]
    table.append(df)                      # snap 2
    snap2 = table.metadata()["current-snapshot-id"]
    h = table.history_df().toPandas().sort_values("made_current_at_ms")
    assert list(h["snapshot_id"]) == [snap1, snap2]
    assert h["is_current_ancestor"].all()
    assert h.iloc[1]["parent_id"] == snap1

    table.rollback_to(snap1)
    table.append(df)                      # snap 3, parent = snap1
    snap3 = table.metadata()["current-snapshot-id"]
    h = table.history_df().toPandas()
    anc = h.groupby("snapshot_id")["is_current_ancestor"].all()
    # snap2 was made current once, but is no longer on main's ancestry
    assert not anc[snap2]
    assert anc[snap1] and anc[snap3]
    # the rollback re-made snap1 current: it appears twice in the log
    assert int((h["snapshot_id"] == snap1).sum()) == 2
