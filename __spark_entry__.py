"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All logic lives in ``filtered_ads_vector_search_spark``; this file is the thin
driver-facing shim. The registry pairs every Spark query with a DuckDB oracle
generated from the same portable expression layer (same hash constants, same
fold order, same rounding), so both engines produce bit-identical values.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# this checkout's package, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from filtered_ads_vector_search_spark import registry
from filtered_ads_vector_search_spark.datasets import SMOKE_SF_DIR, load_table
from filtered_ads_vector_search_spark.operators import filters as FL
from filtered_ads_vector_search_spark.operators import topk as TK


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: FILTERED exact top-k vector
    search (the reference's core operation — rating-range prefilter applied
    BEFORE the k-NN, reference: utils_grid_search.py:999-1002) using the
    scale-out physical form (broadcast queries + mapInPandas local top-k +
    per-query merge)."""
    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    queries_df, corpus = TK.split_queries(emb)
    corpus = FL.with_rating_bucket(corpus).filter(FL.named_filter_predicate("high_rated"))
    return TK.knn_scalable(queries_df, corpus, k=10, metric="sqeuclidean")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (see
    filtered_ads_vector_search_spark/registry.py for the inventory)."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for EVERY query — zero rows-only entries. The
    trained-KMeans tier (ann_ivf) ships a recall-floor contract oracle:
    the SQL pins the hash-split query set, exactly-k result counts, and a
    per-query floor_met=TRUE column the Spark side computes against its
    own exact truth (centroid VALUES stay non-SQL-expressible; the
    machinery is bit-oracled via ann_ivf_fixed, and all three grid driver
    loops are value-checked over deterministic builds)."""
    return dict(registry.ORACLES)
