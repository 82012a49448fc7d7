"""Q117: source/sink format coverage — CSV, JSON-lines, and ORC
round-trips through Spark's DataSource readers/writers, verified against
the parquet original.

The engine's primary format is parquet, but a drop-in replacement for
the reference's Spark surface must ingest the other formats users
actually bring (CSV exports, JSONL logs, ORC warehouses). One registry
entry proves all three read AND write paths: the events table is
written to each format, read back with an explicit schema (never
inferSchema — at 100 TB inference is an extra full scan), and
re-aggregated; every per-format aggregate must equal the parquet
truth the oracle computes.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import driver_sized
from ..tables import load
from ._registry import register


@register(
    "q117_source_roundtrip",
    oracle="""
    SELECT fmt, event_type, cnt, sum_user
    FROM (
      SELECT event_type, count(*) AS cnt,
             CAST(sum(user_id) AS BIGINT) AS sum_user
      FROM events GROUP BY event_type
    ), (SELECT unnest(['csv', 'json', 'orc']) AS fmt)
    ORDER BY fmt, event_type
    """,
    doc="CSV / JSON-lines / ORC round-trip: write the (integer+string "
    "projection of the) events table to each format, read it back with "
    "an explicit schema, aggregate, and emit one row per (format, "
    "event_type) — all three must match the parquet-derived oracle "
    "exactly, proving the serializer and parser agree on every row. "
    "Explicit schemas keep the read single-pass (no inferSchema scan); "
    "per-format temp dirs are cleaned up eagerly.",
)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    tmp = tempfile.mkdtemp(prefix="srcfmt_")
    try:
        frames = []
        for fmt in ["csv", "json", "orc"]:
            path = os.path.join(tmp, fmt)
            writer = ev.write.mode("overwrite").format(fmt)
            if fmt == "csv":
                writer = writer.option("header", "true")
            writer.save(path)
            reader = spark.read.format(fmt).schema(ev.schema)
            if fmt == "csv":
                reader = reader.option("header", "true")
            back = reader.load(path)
            frames.append(
                back.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum("user_id").alias("sum_user"),
                )
                .select(F.lit(fmt).alias("fmt"), "event_type", "cnt", "sum_user")
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        # materialize before the temp dirs disappear
        return driver_sized(out.orderBy("fmt", "event_type"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "q139_xml_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS cnt,
           CAST(sum(user_id) AS BIGINT) AS sum_user
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="XML source/sink round-trip (Spark 4 built-in spark-xml): the "
    "events projection is written element-per-row under a rowTag, read "
    "back with an explicit schema (no schema-inference scan), and "
    "aggregated — must equal the parquet-derived oracle exactly. "
    "Completes the text-format family alongside q117's CSV/JSONL/ORC; "
    "like those, the read is a plain distributed FileScan, so every "
    "downstream pushdown/pruning property applies unchanged.",
)
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    tmp = tempfile.mkdtemp(prefix="srcxml_")
    try:
        path = os.path.join(tmp, "xml")
        (
            ev.write.mode("overwrite")
            .format("xml")
            .option("rootTag", "events")
            .option("rowTag", "event")
            .save(path)
        )
        back = (
            spark.read.format("xml")
            .schema(ev.schema)
            .option("rowTag", "event")
            .load(path)
        )
        out = (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("user_id").alias("sum_user"),
            )
            .orderBy("event_type")
        )
        return driver_sized(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
