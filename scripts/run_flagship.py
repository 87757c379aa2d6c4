"""Flagship end-to-end run — the Spark re-expression of the reference's
`cuvs_bench_grid_search_v3.py` lifecycle (SURVEY.md §3.1):

config -> split -> filter compile -> one-time exact oracle -> hyperparameter
grid (build/search/recall/QPS per combo, incremental CSV) -> summary CSV ->
Pareto frontier over the grid metrics.

Usage: python scripts/run_flagship.py [sf_dir] [out_dir]
"""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import Window
from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.operators import filters as FL
from filtered_ads_vector_search_spark.operators import topk as TK
from filtered_ads_vector_search_spark.operators.gridsearch import (
    GridConfig,
    grid_search,
    summarize,
)
from filtered_ads_vector_search_spark.session import get_spark
from filtered_ads_vector_search_spark.sources.sinks import write_metrics_csv

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/flagship_out"


def main() -> None:
    spark = get_spark(app_name="favs-flagship")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)
    t0 = time.time()

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries, corpus = TK.split_queries(emb)
    corpus = FL.with_rating_bucket(corpus).cache()

    all_metrics = None
    for filter_name in ("low_rated", "high_rated", "mid_rated"):
        pred = FL.named_filter_predicate(filter_name)
        cfg = GridConfig(n_centroids=[8, 16], nprobe=[2, 4, 8], k=10)
        metrics = grid_search(
            spark,
            queries,
            corpus,
            cfg,
            predicate=pred,
            run_name=f"ivf_{filter_name}",
            csv_path=f"{OUT}/grid_{filter_name}.csv",
        ).withColumn("filter_name", F.lit(filter_name))
        all_metrics = metrics if all_metrics is None else all_metrics.unionByName(metrics)
        print(f"[{time.time()-t0:6.1f}s] grid done: {filter_name}", flush=True)

    all_metrics = all_metrics.cache()
    write_metrics_csv(all_metrics.coalesce(1), f"{OUT}/all_metrics_csv")
    write_metrics_csv(summarize(all_metrics).coalesce(1), f"{OUT}/summary_csv")

    # Pareto frontier (recall vs qps) per run — the reference's frontier plots
    w = (
        Window.partitionBy("run")
        .orderBy(F.col("recall").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pareto = (
        all_metrics.withColumn("best_qps_so_far", F.max("qps").over(w))
        .filter(F.col("best_qps_so_far").isNull() | (F.col("qps") > F.col("best_qps_so_far")))
        .select("run", "n_centroids", "nprobe", "recall", "qps")
        .orderBy("run", F.col("recall").desc())
    )
    write_metrics_csv(pareto.coalesce(1), f"{OUT}/pareto_csv")
    pareto.show(50, truncate=False)
    print(f"done in {time.time()-t0:.1f}s -> {OUT}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
