"""Loaders for the driver-generated testdata tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a sf dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import materialize

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return load_events(spark, path)
    return spark.read.parquet(path)


def events_ts_physical_type(spark: SparkSession, path: str):
    """The generated events.ts column has shipped as both parquet
    TIMESTAMP(NANOS) (readable only as int64 under the legacy conf) and
    TIMESTAMP(MICROS). Return the Spark type the file carries so loaders
    (batch and streaming) can normalize either layout."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema["ts"].dataType


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-zone TIMESTAMP regardless of the
    file's physical layout (int64 nanos or TIMESTAMP(NTZ) micros). With
    the UTC session zone the wall-clock values match DuckDB's TIMESTAMP
    bit-for-bit, so oracle comparisons are exact either way."""
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        # int64 nanoseconds → truncate to µs, same truncation DuckDB applies
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_events(spark: SparkSession, path: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events_ts(spark.read.parquet(path))


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register temp views for SQL-expressed queries (subqueries/CTEs),
    owned by the caller's materialize scope."""
    for name in names:
        materialize.temp_view(load(spark, sf_dir, name), name)
