"""Loaders for the driver-generated synthetic test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one Parquet file each under a scale-factor dir.
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
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events, normalizing ``ts`` to a microsecond timestamp.

    Older driver-generated parquet wrote ``ts`` as TIMESTAMP(NANOS), which
    Spark 4 reads (with the legacy flag) as epoch-nanos BIGINT; current data
    writes TIMESTAMP(MICROS), which loads as a timestamp directly. Branch on
    the loaded dtype so both vintages work.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    dtype = dict(df.dtypes).get("ts")
    if dtype in ("bigint", "long"):
        # integer DIV, not floor(double /): epoch-nanos exceed float64 precision
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dtype == "timestamp_ntz":
        # Normalize to TIMESTAMP_LTZ so downstream epoch arithmetic
        # (cast to bigint, unix_micros) stays legal. The session runs in
        # UTC, so the cast preserves both wall-clock and instant, and the
        # DuckDB oracle (naive timestamps) sees identical values.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql can see them."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
