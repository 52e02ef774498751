"""Loaders for the driver-generated parquet testdata (TESTDATA.md).

Pure ``spark.read.parquet`` — scans stay columnar, filters/projections
pushed by Catalyst reach the parquet reader (PushedFilters/ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.parquet has shipped with two physical types for `ts`:
        # TIMESTAMP(NANOS) (round-1 data — Spark's reader rejects it
        # unless nanosAsLong is set, then it arrives as a long) and plain
        # TIMESTAMP(MICROS) isAdjustedToUTC=false (current data — arrives
        # as TIMESTAMP_NTZ). Normalize both to a session-TZ timestamp
        # (micros, UTC session pinned by the factory) so every downstream
        # query and the DuckDB oracle see identical wall-clock values.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = raw.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # nanos-as-long → truncating division to micros (bit-for-bit
            # what DuckDB does reading TIMESTAMP(NANOS))
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, TimestampNTZType):
            # NTZ → TIMESTAMP keeps the wall clock under the UTC session
            return raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return raw
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
