"""Guard against driver testdata drift: every table must load, and the
normalized events.ts must be a timestamp regardless of the on-disk vintage
(TIMESTAMP(NANOS)-as-bigint legacy vs TIMESTAMP(MICROS) current).

This is the failure class that crashed BENCH_r02 — catch it in pytest instead.
"""

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from filtered_ads_vector_search_spark import datasets, registry
from filtered_ads_vector_search_spark.streaming import stream_events

SF_DIR = "/root/testdata/sf0.001"


def _jobs_launched(spark, fn):
    """Spark jobs ``fn()`` launches, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("table", datasets.TABLES)
def test_table_loads_nonempty(spark, table):
    df = datasets.load_table(spark, SF_DIR, table)
    assert df.limit(1).count() == 1


def test_events_ts_is_timestamp(spark):
    df = datasets.load_events(spark, SF_DIR)
    dtype = dict(df.dtypes)["ts"]
    assert dtype.startswith("timestamp"), f"events.ts loaded as {dtype}"


def test_events_ts_range_sane(spark):
    from pyspark.sql import functions as F

    df = datasets.load_events(spark, SF_DIR)
    row = df.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    # A botched nanos/micros conversion lands decades away from the data's
    # actual range; assert the years are plausible.
    assert 2000 <= row["lo"].year <= 2100
    assert 2000 <= row["hi"].year <= 2100


# Expected loaded dtype per column the oracles bind against, for ALL 10
# tables. Values are allowed-sets where the driver has already drifted a
# vintage (dates/timestamps) or plausibly could (ints widening, doubles to
# decimal) — anything outside the set is the BENCH_r02-class failure this
# test exists to catch BEFORE a bench/correctness run does.
_DATE = ("date", "timestamp", "timestamp_ntz")
_INT = ("int", "bigint")
_NUM = ("double", "float", "decimal(15,2)", "decimal(12,2)")
EXPECTED_DTYPES = {
    "region": {"r_regionkey": _INT, "r_name": ("string",)},
    "nation": {"n_nationkey": _INT, "n_name": ("string",), "n_regionkey": _INT},
    "customer": {
        "c_custkey": _INT,
        "c_name": ("string",),
        "c_nationkey": _INT,
        "c_acctbal": _NUM,
        "c_mktsegment": ("string",),
    },
    "supplier": {
        "s_suppkey": _INT,
        "s_name": ("string",),
        "s_nationkey": _INT,
        "s_acctbal": _NUM,
    },
    "part": {
        "p_partkey": _INT,
        "p_name": ("string",),
        "p_brand": ("string",),
        "p_type": ("string",),
        "p_size": _INT,
        "p_retailprice": _NUM,
    },
    "orders": {
        "o_orderkey": _INT,
        "o_custkey": _INT,
        "o_orderstatus": ("string",),
        "o_totalprice": _NUM,
        "o_orderdate": _DATE,
        "o_orderpriority": ("string",),
    },
    "lineitem": {
        "l_orderkey": _INT,
        "l_partkey": _INT,
        "l_suppkey": _INT,
        "l_linenumber": _INT,
        "l_quantity": _NUM,
        "l_extendedprice": _NUM,
        "l_discount": _NUM,
        "l_tax": _NUM,
        "l_returnflag": ("string",),
        "l_linestatus": ("string",),
        "l_shipdate": _DATE,
    },
    # ts must be a timestamp AFTER load_events normalization, whatever the
    # on-disk vintage (nanos-as-bigint legacy / micros / ntz)
    "events": {
        "event_id": _INT,
        "ts": ("timestamp", "timestamp_ltz"),
        "user_id": _INT,
        "event_type": ("string",),
        "value": _NUM,
        "props": ("string",),
    },
    "documents": {
        "doc_id": _INT,
        "text": ("string",),
        "lang": ("string",),
        "source": ("string",),
        "n_chars": _INT,
    },
    "embeddings": {
        "vec_id": _INT,
        "embedding": ("array<float>", "array<double>"),
        "label": _INT,
    },
}


@pytest.mark.parametrize("table", datasets.TABLES)
def test_table_dtypes(spark, table):
    """Dtype guards for every column the oracles depend on, across all 10
    tables — the same drift class as the events.ts vintage change
    (BENCH_r02's crash), caught in pytest instead of mid-round."""
    got = dict(datasets.load_table(spark, SF_DIR, table).dtypes)
    expected = EXPECTED_DTYPES[table]
    missing = set(expected) - set(got)
    assert not missing, f"{table} lost columns: {missing}"
    for col, allowed in expected.items():
        assert got[col] in allowed, (
            f"{table}.{col} loaded as {got[col]!r}, expected one of {allowed} "
            "(driver testdata vintage drift — update loaders/oracles together)"
        )


def test_nanos_vintage_events_load_and_stream(spark, tmp_path):
    """The legacy ``timestamp[ns]`` vintage of events.ts: the batch loader
    converts epoch nanos to micros with integer division, and the stream
    loader declares the same schema from the footer, with no batch read."""
    nanos = [1_700_000_000_123_456_789, 1_700_000_061_000_000_999, 1_700_000_122_999_999_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
                "user_id": pa.array([7, 7, 8], pa.int64()),
                "event_type": ["view", "click", "view"],
                "value": [1.0, 2.0, 3.0],
                "props": ["{}", "{}", "{}"],
            }
        ),
        tmp_path / "events.parquet",
    )
    got = datasets.load_events(spark, str(tmp_path))
    want = spark.createDataFrame(
        list(zip([1, 2, 3], nanos)), "event_id bigint, nanos bigint"
    ).select("event_id", F.timestamp_micros(F.expr("nanos DIV 1000")).alias("ts"))
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert sorted(got.select("event_id", "ts").collect()) == sorted(want.collect())

    holder = {}
    jobs = _jobs_launched(
        spark, lambda: holder.setdefault("s", stream_events(spark, str(tmp_path)))
    )
    assert jobs == 0
    assert holder["s"].isStreaming
    assert holder["s"].schema == got.schema


def test_reads_and_query_construction_launch_no_job(spark):
    """A read with a footer-declared schema launches no schema-inference
    job, so neither does building a registry query over plain reads."""
    for table in datasets.TABLES:
        assert _jobs_launched(spark, lambda: datasets.load_table(spark, SF_DIR, table)) == 0, table
    for name in ("tpch_q1", "text_stats", "knn_exact", "event_funnel"):
        assert _jobs_launched(spark, lambda: registry.QUERIES[name](spark, SF_DIR)) == 0, name
