import sys
from pathlib import Path

import pytest

# this checkout's package, whichever directory the checkout lives in
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from filtered_ads_vector_search_spark.materialize import release
from filtered_ads_vector_search_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_TEST = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="favs-tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_TEST}/{t}.parquet'")
    return con


@pytest.fixture
def no_leaked_rdds(spark):
    """Fails a test that ends with a persistent RDD it did not start with:
    whatever it materialized it must `release()` and whatever index it built
    it must `unpersist()`, so the next test starts from its own baseline
    instead of from garbage the context cleaner reclaims at a later GC."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    yield
    left = set(jsc.getPersistentRDDs().keys()) - before
    assert not left, f"persistent RDDs left behind: {sorted(left)}"


def collect_released(df):
    """``df.collect()``, then release the materializations ``df`` reads (an
    operator result such as duplicate components or a pair table)."""
    try:
        return df.collect()
    finally:
        release(df)
