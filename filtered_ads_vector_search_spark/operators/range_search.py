"""Filtered range (radius) search — every neighbor within a distance bound.

The reference's search surface is top-k only (cpu_search
utils_grid_search.py:890-951 returns argpartition top-k), but the index
family it wraps exposes radius queries as a first-class sibling of kNN
(FAISS's public ``range_search``: return ALL vectors with
``dist <= radius``, not the nearest k). A training-data pipeline wants this
form directly: "every document within epsilon of this probe" is the
epsilon-ball primitive under near-dup auditing, contamination sweeps, and
density estimation — places where a fixed k either truncates dense
neighborhoods or pads sparse ones.

Three physical forms, one logical semantics (mirroring topk.py's tiers):

* ``range_window``   — declarative: broadcast(queries) crossJoin corpus ->
  distance expr -> ``dist <= radius`` filter. NO shuffle at all — the
  predicate rides inside the same whole-stage-codegen'd scan stage, so this
  is actually CHEAPER than top-k at scale (no per-query window/merge). The
  DuckDB-oracle tier.
* ``range_scalable`` — the Arrow kernel form: broadcast query matrix,
  ``mapInArrow`` over corpus partitions, vectorized distance matrix, emit
  matching (query_id, neighbor_id, dist) rows. Output rows ARE the result
  (no merge stage needed — radius matches are partition-local facts).
* ``IVFIndex.range_search`` (ann.py) — the approximate probed tier: only
  the nprobe nearest cells are scanned, exactly FAISS's IVF range_search
  contract (missed cells -> missed neighbors, recall governed by nprobe).

Filter-before-search: like top-k, the predicate is applied to the corpus
BEFORE scanning, so results are exact over the filtered corpus (a
post-filter would be equivalent here — radius results are independent —
but pre-filtering prunes the scan).

Tie-handling: none needed — radius membership is a per-row predicate, so
results are a SET; callers order by (query_id, dist, neighbor_id) only for
display. Boundary robustness: callers should pick radii away from exact
attainable distances; the kernels compute float64 and agree with the SQL
fold to last-ulps, so any gap wider than ~1e-9 relative is safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .topk import Metric, _metric_scorer, distance_col, scan_topk

__all__ = ["range_window", "range_scalable", "range_count"]


def range_window(
    queries: DataFrame,
    corpus: DataFrame,
    radius: float,
    metric: Metric = "sqeuclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    distance: tuple[Column, bool] | None = None,
) -> DataFrame:
    """Declarative exact range search: (query_id, neighbor_id, dist) for
    every corpus row with dist <= radius (ascending metrics) or
    dist >= radius (descending metrics, i.e. inner_product as a similarity
    floor). Queries with no neighbors in range return no rows.

    Plan shape: broadcast nested-loop join (query side broadcast, corpus
    streams) with the radius predicate fused into the scan stage — zero
    exchanges, unlike the top-k window form.
    """
    d, asc = (
        distance
        if distance is not None
        else distance_col(metric, F.col("q_vec"), F.col(vec_col))
    )
    pred = (F.col("dist") <= radius) if asc else (F.col("dist") >= radius)
    return (
        F.broadcast(queries)
        .crossJoin(corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)))
        .withColumn("dist", d)
        .filter(pred)
        .select("query_id", "neighbor_id", "dist")
    )


def range_scalable(
    queries: DataFrame,
    corpus: DataFrame,
    radius: float,
    metric: Metric = "sqeuclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-out exact range search: broadcast query matrix, Arrow-batched
    distance matrix per corpus batch, emit rows under the radius —
    `scan_topk` in radius mode with no candidate groups.

    Unlike knn_scalable there is NO merge stage: a radius match is decided
    entirely within the partition that holds the corpus row, so the kernel
    output is the final relation (embarrassingly parallel end to end). The
    query side must be driver-broadcastable (same cap + rationale as
    knn_scalable; route corpus-sized query sets through the bucketed
    IVF tier or a blockwise join). The scorer negates similarity metrics
    so smaller-is-better holds uniformly; ``sign`` flips the threshold and
    the emitted dist back for inner_product.
    """
    return scan_topk(
        queries,
        corpus,
        "range_scalable",
        _metric_scorer(metric),
        0,  # unused in radius mode
        id_col=id_col,
        data_col=vec_col,
        radius=radius,
        sign=-1.0 if metric == "inner_product" else 1.0,
    )


def range_count(
    queries: DataFrame,
    matches: DataFrame,
) -> DataFrame:
    """Per-query in-radius neighbor count over a range-search result,
    including zero rows for queries with an empty ball (the density-profile
    use: 'how crowded is each probe's epsilon-neighborhood?'). One
    map-combinable groupBy + one broadcast left join against the (small)
    query relation."""
    counts = matches.groupBy("query_id").agg(F.count("*").alias("n_in_range"))
    return (
        queries.select("query_id")
        .join(counts, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_in_range"), F.lit(0)).alias("n_in_range"),
        )
    )
