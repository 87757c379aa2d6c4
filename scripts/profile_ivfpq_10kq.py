"""Stage-by-stage profile of the IVFPQ Arrow-ADC 10k-query search at 1M.

Splits the search into its three physical stages and times each behind a
count(), so optimization effort lands where the time actually goes:

  probes : the EXPRESSION path's centroid-ranking job (knn_window), for
           reference — the Arrow kernel ranks probes driver-side in numpy
  kernel : probe-pruned coded scan + Arrow ADC scoring + per-bucket top-R
           partial emission (_adc_candidates_arrow output, no merge)
  full   : the complete search (adds the window merge + exact rerank join)

Usage: python scripts/profile_ivfpq_10kq.py [data_dir] [n_queries]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.operators import topk as TK
from filtered_ads_vector_search_spark.operators.ivfpq import IVFPQIndex
from filtered_ads_vector_search_spark.operators.topk import knn_window
from filtered_ads_vector_search_spark.session import get_spark

DATA = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/scale_data"
N_Q = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
K, NPROBE, RERANK = 10, 8, 100


def main() -> None:
    spark = get_spark(app_name="profile-ivfpq", cpus=32, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{DATA}/vectors.parquet")
    q = (
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + N_Q))
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        .cache()
    )
    c = emb.filter(F.col("vec_id") >= 100 + N_Q)
    print("queries:", q.count())

    t0 = time.time()
    idx = IVFPQIndex.build(c, n_centroids=256, m=8, n_codes=32, seed=42)
    print(f"build: {time.time() - t0:.1f}s")

    t0 = time.time()
    probes = knn_window(
        q, idx.centroids, k=NPROBE, metric="sqeuclidean",
        id_col="centroid_id", vec_col="centroid",
    ).select("query_id", F.col("neighbor_id").alias("partition_id")).cache()
    probes.count()
    print(f"probes: {time.time() - t0:.2f}s")

    top = max(RERANK, K)
    t0 = time.time()
    cand = idx._adc_candidates_arrow(q, NPROBE, idx.coded, top)
    n_cand = cand.count()
    t_kernel = time.time() - t0
    print(f"kernel (scan+score+partials): {t_kernel:.2f}s  rows={n_cand}")

    t0 = time.time()
    merged = idx._finish_from_candidates(cand, q, idx.coded, K, RERANK)
    n_out = merged.count()
    t_merge = time.time() - t0
    print(f"merge+rerank (on recomputed kernel): {t_merge:.2f}s  rows={n_out}")

    t0 = time.time()
    full = idx.search(q, k=K, nprobe=NPROBE, rerank=RERANK, arrow_adc=True)
    n_full = full.count()
    print(f"full search: {time.time() - t0:.2f}s  rows={n_full}")
    print(
        "NOTE: merge+rerank re-executes the kernel subtree (no persist), so "
        "its own cost is roughly (merge_line - kernel_line); full is the "
        "honest end-to-end number."
    )
    spark.stop()


if __name__ == "__main__":
    main()
