"""Loaders for the driver-generated synthetic test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one Parquet file each under a scale-factor dir.

Every read declares the table's schema, taken from the file's Parquet
footer on the driver (``table_schema``), so no read launches Spark's
schema-inference job and the batch and stream loaders see one schema.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

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


def table_schema(path: str) -> T.StructType:
    """The Spark schema of a Parquet file, read from its footer.

    ``prefer_timestamp_ntz`` gives naive timestamps the ``timestamp_ntz``
    type Spark infers for them, so the declared schema equals the inferred
    one. A ``timestamp[ns]`` column (the legacy nanos vintage of
    ``events.ts``) is declared ``bigint``: Spark reads it as epoch nanos,
    as it infers it under ``nanosAsLong``.
    """
    arrow = pq.read_schema(path)
    spark_schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    return T.StructType(
        [
            T.StructField(f.name, T.LongType(), f.nullable)
            if pa.types.is_timestamp(a.type) and a.type.unit == "ns"
            else f
            for f, a in zip(spark_schema.fields, arrow)
        ]
    )


def _table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def _normalize(name: str, df: DataFrame) -> DataFrame:
    """``events.ts`` as a microsecond TIMESTAMP_LTZ, whatever its vintage:
    epoch nanos (``bigint``) or a naive ``timestamp_ntz``. The session
    runs in UTC, so the NTZ cast keeps both wall-clock and instant, and
    the DuckDB oracle (naive timestamps) sees identical values; LTZ keeps
    downstream epoch arithmetic (cast to bigint, unix_micros) legal."""
    if name != "events":
        return df
    dtype = df.schema["ts"].dataType
    if isinstance(dtype, T.LongType):
        # integer DIV, not floor(double /): epoch-nanos exceed float64 precision
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(dtype, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = _table_path(sf_dir, name)
    return _normalize(name, spark.read.schema(table_schema(path)).parquet(path))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events, normalizing ``ts`` to a microsecond timestamp."""
    return load_table(spark, sf_dir, "events")


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one table, one file per trigger, with the
    schema and ``ts`` normalization of ``load_table``."""
    path = _table_path(sf_dir, name)
    raw = (
        spark.readStream.schema(table_schema(path))
        .option("maxFilesPerTrigger", 1)
        # FileStreamSource requires a directory: stream the sf dir, glob to
        # the table's file
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return _normalize(name, raw)
