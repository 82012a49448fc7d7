"""Q34: catalog ops end-to-end (SURVEY.md §2F) — mirrors the reference's
own Spark integration flow (tests/python/tests/test_spark.py:267-296):
create namespace + table, INSERT twice, tag after the first insert,
verify time travel sees the pre-tag count, branch writes stay isolated,
compaction rewrites to one file.

Runs a real catalog REST server (HTTP, in-process thread), a real
metastore, and real Spark parquet IO under a temp warehouse. The flow is
deterministic, so the driver hash-checks it against a DuckDB oracle that
recomputes the data-derived counts and pins the protocol constants; the
in-flow assertions additionally fail fast on any isolation violation.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import materialize
from ..catalog.client import RestCatalogClient
from ..catalog.server import ServerThread
from ..catalog.spark_table import SparkCatalogTable, iceberg_schema_from_spark
from ..tables import load
from ._registry import register


@register(
    "q34_catalog_end_to_end",
    # The flow is deterministic end-to-end: every metric is either a pure
    # function of the (deterministically sampled) input data — expressible
    # as DuckDB aggregates — or a protocol constant (4 snapshots at the
    # point measured: append+append+branch-append+compact; 3 refs
    # main/v1/dev; 2 live specs after evolution — dropping the bucket
    # field rebinds to the structurally-identical spec 0; 1 file after
    # compaction) pinned as literals. A catalog bug that loses/duplicates
    # rows or commits now hash-mismatches instead of hiding in rows-only.
    oracle="""
    WITH c AS (
      SELECT count(*) FILTER (WHERE l_orderkey % 2 = 0) AS n_first,
             count(*) FILTER (WHERE l_orderkey % 2 = 1) AS n_second,
             count(*) AS n_all
      FROM lineitem WHERE l_orderkey % 25 = 7
    )
    SELECT 'count_incremental' AS metric, CAST(n_second AS BIGINT) AS value FROM c
    UNION ALL SELECT 'count_main', CAST(n_all AS BIGINT) FROM c
    UNION ALL SELECT 'count_at_tag', CAST(n_first AS BIGINT) FROM c
    UNION ALL SELECT 'count_dev_branch', CAST(n_all + n_second AS BIGINT) FROM c
    UNION ALL SELECT 'count_after_compact', CAST(n_all AS BIGINT) FROM c
    UNION ALL SELECT 'files_after_compact', CAST(1 AS BIGINT) FROM c
    UNION ALL SELECT 'snapshots', CAST(4 AS BIGINT) FROM c
    UNION ALL SELECT 'refs', CAST(3 AS BIGINT) FROM c
    UNION ALL SELECT 'partition_specs_live', CAST(2 AS BIGINT) FROM c
    """,
    doc="Catalog plane end-to-end: REST create/insert/tag/time-travel/"
    "branch/compact with snapshot isolation (test_spark.py:267-357 flow). "
    "The sample is a deterministic modulo slice (not LIMIT) so the DuckDB "
    "oracle recomputes the same expected counts from the raw table.",
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted (r13, guide §5): the modulo slice feeds five appends and
    # two count probes across the flow — without the cache each one
    # re-scans lineitem and re-filters; the slice is 4% of the table and
    # projected to 4 columns, so the cache is small and released with
    # the flow's own scope (the result rows are driver-built).
    with (
        materialize.scope(),
        ServerThread() as server,
        tempfile.TemporaryDirectory() as warehouse_dir,
    ):
        sample = materialize.persist(
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
            .filter(F.col("l_orderkey") % 25 == 7)
        )
        client = RestCatalogClient(server.base_url)
        client.create_warehouse("proj-1", "wh", warehouse_dir)
        client.configure("proj-1", "wh")
        client.create_namespace(["bench"])
        schema = iceberg_schema_from_spark(sample.schema)
        client.create_table(["bench"], "items", schema)
        table = SparkCatalogTable(spark, client, ["bench"], "items")

        first = sample.filter(F.col("l_orderkey") % 2 == 0)
        second = sample.filter(F.col("l_orderkey") % 2 == 1)
        # one job for both halves' counts instead of two (r13)
        both = sample.agg(
            F.count_if(F.col("l_orderkey") % 2 == 0).alias("a"),
            F.count_if(F.col("l_orderkey") % 2 == 1).alias("b"),
        ).collect()[0]
        n_first, n_second = both["a"], both["b"]

        table.append(first)
        snap1 = table.metadata()["current-snapshot-id"]
        table.create_tag("v1")
        table.append(second)

        # incremental append scan: delta after snap1 is exactly `second`
        n_incremental = table.read_incremental(snap1).count()
        assert n_incremental == n_second, (n_incremental, n_second)

        count_main = table.read().count()
        count_at_tag = table.read(ref="v1").count()
        assert count_main == n_first + n_second, (count_main, n_first, n_second)
        assert count_at_tag == n_first, (count_at_tag, n_first)

        # branch isolation (test_spark.py:299-327)
        table.create_branch("dev")
        table.append(second, branch="dev")
        count_dev = table.read(ref="dev").count()
        count_main_after = table.read().count()
        assert count_dev == count_main + n_second
        assert count_main_after == count_main

        # compaction to 1 file (test_spark.py:347-357)
        table.compact(target_partitions=1)
        n_files_after = table.files_df().count()
        count_after_compact = table.read().count()
        assert n_files_after == 1, n_files_after
        assert count_after_compact == count_main

        n_snapshots = table.snapshots_df().count()
        n_refs = table.refs_df().count()

        # partition evolution + .partitions metadata view
        # (test_spark.py:149-165,185-210): partition by bucket(4), append,
        # then drop the field — old rows keep their original tuple
        table.add_partition_field("l_partkey", "bucket[4]", "pk_bucket")
        table.append(first)
        parts_before = {
            (r["partition"], r["spec_id"]) for r in table.partitions_df().collect()
        }
        n_bucketed = sum(1 for p, s in parts_before if p != "{}")
        assert 1 <= n_bucketed <= 4, parts_before
        table.drop_partition_field("pk_bucket")
        table.append(second)
        parts_after = table.partitions_df().collect()
        assert len({r["spec_id"] for r in parts_after}) >= 2, parts_after
        assert sum(r["record_count"] for r in parts_after) == table.read().count()

        rows = [
            ("count_incremental", n_incremental),
            ("count_main", count_main),
            ("count_at_tag", count_at_tag),
            ("count_dev_branch", count_dev),
            ("count_after_compact", count_after_compact),
            ("files_after_compact", n_files_after),
            ("snapshots", n_snapshots),
            ("refs", n_refs),
            ("partition_specs_live", len({r["spec_id"] for r in parts_after})),
        ]
        return spark.createDataFrame(rows, "metric string, value long")


@register(
    "q82_merge_upsert",
    oracle="""
    WITH target AS (
      SELECT c_custkey, c_acctbal, c_mktsegment FROM customer WHERE c_custkey <= 1000
    ), source AS (
      SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, 'MERGED' AS c_mktsegment
      FROM customer WHERE c_custkey > 500 AND c_custkey <= 1500
    )
    SELECT t.c_custkey,
           CAST(coalesce(s.c_acctbal, t.c_acctbal) AS DOUBLE) AS c_acctbal,
           coalesce(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment
    FROM target t LEFT JOIN source s ON t.c_custkey = s.c_custkey
    UNION ALL
    SELECT s.c_custkey, CAST(s.c_acctbal AS DOUBLE), s.c_mktsegment
    FROM source s ANTI JOIN target t ON s.c_custkey = t.c_custkey
    ORDER BY c_custkey
    """,
    doc="MERGE INTO (matched update / not-matched insert, "
    "test_spark.py:72-74 semantics) against a live catalog table: the "
    "merge composes anti/semi joins plus one CAS-guarded overwrite "
    "snapshot, and the post-merge table must equal the oracle's "
    "outer-join formulation of upsert. Exercises the whole write path "
    "(metadata commit, field-id parquet files, snapshot read-back).",
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    customers = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    target_rows = customers.filter(F.col("c_custkey") <= 1000)
    source_rows = customers.filter(
        (F.col("c_custkey") > 500) & (F.col("c_custkey") <= 1500)
    ).select(
        "c_custkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        F.lit("MERGED").alias("c_mktsegment"),
    )
    with ServerThread() as server, tempfile.TemporaryDirectory() as warehouse_dir:
        client = RestCatalogClient(server.base_url)
        client.create_warehouse("proj-m", "wh", warehouse_dir)
        client.configure("proj-m", "wh")
        client.create_namespace(["dml"])
        client.create_table(
            ["dml"], "cust", iceberg_schema_from_spark(target_rows.schema)
        )
        table = SparkCatalogTable(spark, client, ["dml"], "cust")
        table.append(target_rows)
        table.merge(source_rows, on=["c_custkey"])
        out = table.read().orderBy("c_custkey")
        # materialize before the temp warehouse disappears
        return materialize.driver_sized(out)


@register(
    "q83_row_level_delete",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey <= 2000
      -- delete_where removes condition-TRUE rows only; NULL-predicate
      -- rows survive (three-valued logic). Plain NOT(cond) would also
      -- drop them, so pin the documented semantics with coalesce.
      AND NOT coalesce(o_orderstatus = 'F' AND o_totalprice < 100000.0, FALSE)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Row-level DELETE (copy-on-write rewrite) against a live catalog "
    "table: delete_where must remove exactly the condition-TRUE rows "
    "(three-valued logic: NULL-predicate rows are kept), verified by "
    "aggregating the surviving snapshot against the oracle's NOT-filter.",
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    with ServerThread() as server, tempfile.TemporaryDirectory() as warehouse_dir:
        client = RestCatalogClient(server.base_url)
        client.create_warehouse("proj-d", "wh", warehouse_dir)
        client.configure("proj-d", "wh")
        client.create_namespace(["dml"])
        client.create_table(["dml"], "ord", iceberg_schema_from_spark(orders.schema))
        table = SparkCatalogTable(spark, client, ["dml"], "ord")
        table.append(orders)
        table.delete_where(
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 100000.0)
        )
        out = (
            table.read()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .orderBy("o_orderstatus")
        )
        return materialize.driver_sized(out)


@register(
    "q101_incremental_mv",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey <= 3000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="Incremental materialized-view maintenance over catalog snapshots: "
    "three appends land as three snapshots; after each commit the MV "
    "merges ONLY the snapshot-to-snapshot delta (read_incremental file "
    "diff) into its aggregate state — new_state = reagg(state ∪ "
    "agg(delta)), the distributive-aggregate maintenance rule — and the "
    "final state must hash-match the oracle's full recompute. The full "
    "table is never rescanned after the first batch; at 100 TB that is "
    "the difference between touching a day's partition and touching the "
    "corpus. Decimal partial sums keep the merge exact.",
)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    batches = [
        orders.filter(F.col("o_orderkey") <= 1000),
        orders.filter((F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 2000)),
        orders.filter(F.col("o_orderkey") > 2000),
    ]

    def agg_of(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total_dec"),
        )

    def merge(state: DataFrame, delta_agg: DataFrame) -> DataFrame:
        return (
            state.unionByName(delta_agg)
            .groupBy("o_orderstatus")
            .agg(
                F.sum("n_orders").alias("n_orders"),
                F.sum("total_dec").alias("total_dec"),
            )
        )

    with ServerThread() as server, tempfile.TemporaryDirectory() as warehouse_dir:
        client = RestCatalogClient(server.base_url)
        client.create_warehouse("proj-mv", "wh", warehouse_dir)
        client.configure("proj-mv", "wh")
        client.create_namespace(["mv"])
        client.create_table(["mv"], "ord", iceberg_schema_from_spark(orders.schema))
        table = SparkCatalogTable(spark, client, ["mv"], "ord")

        table.append(batches[0])
        prev_snap = table.metadata()["current-snapshot-id"]
        state = agg_of(table.read())  # initial build: one full scan, once
        for batch in batches[1:]:
            table.append(batch)
            snap = table.metadata()["current-snapshot-id"]
            delta = table.read_incremental(prev_snap, snap)
            state = merge(state, agg_of(delta))
            prev_snap = snap
        out = state.select(
            "o_orderstatus",
            "n_orders",
            F.col("total_dec").cast("double").alias("total"),
        ).orderBy("o_orderstatus")
        # materialize before the server/warehouse teardown
        return materialize.driver_sized(out)


@register(
    "q141_python_datasource",
    # two reads: snapshot_id time travel pinned at the first append
    # (even event_ids only) and the current snapshot (all rows)
    oracle="""
    SELECT 'snapshot1' AS phase, event_type, count(*) AS cnt,
           CAST(sum(user_id) AS BIGINT) AS sum_user
    FROM events WHERE event_id % 2 = 0 GROUP BY event_type
    UNION ALL
    SELECT 'current' AS phase, event_type, count(*) AS cnt,
           CAST(sum(user_id) AS BIGINT) AS sum_user
    FROM events GROUP BY event_type
    ORDER BY phase, event_type
    """,
    doc="Spark 4 Python Data Source over the REST catalog "
    "(catalog/datasource.py): spark.read.format('iceberg_rest') resolves "
    "table metadata through the same REST client as every other "
    "consumer, ships one InputPartition per data file, and reads "
    "executor-side as Arrow RecordBatches with field-id column mapping "
    "— the `USING iceberg` read UX without any Java connector. The "
    "entry appends even event_ids, snapshots, appends the rest, then "
    "aggregates BOTH a snapshot_id time-travel read and the current "
    "read; each must hash-match the corresponding batch oracle.",
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from ..catalog.client import RestCatalogClient
    from ..catalog.datasource import IcebergRestDataSource
    from ..catalog.server import ServerThread
    from ..catalog.spark_table import SparkCatalogTable, iceberg_schema_from_spark
    from ..tables import load as _load

    spark.dataSource.register(IcebergRestDataSource)
    # the reader implements pushFilters(), which Spark refuses to plan
    # unless this (runtime-settable, default-false in 4.1) flag is on —
    # set it here so the entry works on ANY caller's session, not just
    # ones built by session.get_spark
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    ev = _load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    with ServerThread() as server, _tf.TemporaryDirectory() as tmp:
        client = RestCatalogClient(server.base_url)
        client.create_warehouse("p-ds", "wh", os.path.join(tmp, "wh"))
        client.configure("p-ds", "wh")
        client.create_namespace(["ds"])
        client.create_table(["ds"], "events", iceberg_schema_from_spark(ev.schema))
        table = SparkCatalogTable(spark, client, ["ds"], "events")
        table.append(ev.filter(F.col("event_id") % 2 == 0))
        snap1 = table.metadata()["current-snapshot-id"]
        # the odd half goes through the Data Source WRITE path (executor
        # parquet writes + one driver-side CAS snapshot commit), so both
        # halves of the format("iceberg_rest") surface are driver-checked
        writer = (
            ev.filter(F.col("event_id") % 2 == 1)
            .write.format("iceberg_rest")
            .option("uri", server.base_url)
            .option("project", "p-ds")
            .option("warehouse", "wh")
            .option("namespace", "ds")
            .option("table", "events")
        )
        writer.mode("append").save()

        def read_via_ds(**extra):
            r = (
                spark.read.format("iceberg_rest")
                .option("uri", server.base_url)
                .option("project", "p-ds")
                .option("warehouse", "wh")
                .option("namespace", "ds")
                .option("table", "events")
            )
            for k, v in extra.items():
                r = r.option(k, v)
            return r.load()

        frames = []
        for phase, df in (
            ("snapshot1", read_via_ds(snapshot_id=str(snap1))),
            ("current", read_via_ds()),
        ):
            frames.append(
                df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum("user_id").alias("sum_user"),
                )
                .select(F.lit(phase).alias("phase"), "event_type", "cnt", "sum_user")
            )
        out = frames[0].unionByName(frames[1]).orderBy("phase", "event_type")
        return materialize.driver_sized(out)
