"""k-NN graph construction — k nearest neighbors for EVERY corpus vector.

The reference searches a small query batch against a large corpus
(cpu_search utils_grid_search.py:890-951); a training-data pipeline also
needs the self-join form: the k-NN GRAPH over the corpus itself, the
substrate under graph-based near-dup clustering (connected components over
"too close" edges), SemDeDup-style pruning, density/outlier scoring, and
graph-index construction (the reference's own CAGRA builds exactly this
graph on GPU as its index structure — utils_grid_search.py:586-611).

Two forms, one semantics (k nearest OTHER corpus rows per row, tie-break
(dist, neighbor_id) ascending):

* ``knn_graph_window`` — exact: self-crossJoin -> distance -> per-src
  window top-k with self-exclusion. O(n^2) candidate volume; the DuckDB
  oracle tier and correct at test SF.

* ``knn_graph_bucketed`` — the scale form: candidates are generated by an
  IVF bucket equi-join instead of the quadratic self-join. Each row is
  PROBE-assigned to its ``nprobe`` nearest centroids (its primary bucket is
  probe rank 1, so every row is its own candidate and is excluded by id),
  candidates = probes ⨝ primary-assignment on the bucket key, then a
  per-src window top-k. Candidate volume is sum_b probes(b) x |b| ≈
  n x nprobe x avg_bucket — linear in corpus size for fixed bucket
  geometry, never the n^2 crossJoin. Approximate exactly like IVF search:
  a true neighbor living only in an unprobed bucket is missed; exact at
  nprobe == n_centroids.

Scale shape of the bucketed form (the 100 TB story):
  - centroids are broadcast (small side) against the streaming corpus for
    probe ranking; the rank<=nprobe filter is a WindowGroupLimit, which
    applies PARTIALLY before the exchange, so the probe shuffle carries
    ~n x nprobe rows, not n x n_centroids.
  - the candidate join is a shuffle equi-join on partition_id — both sides
    hash-partition on the bucket key (the same key the bucketed layout is
    written under, so a pre-bucketed corpus co-locates for free).
  - the final top-k is the same WindowGroupLimit partial+final shape as
    topk.knn_window: ~k rows per src cross the last exchange.
  No driver collect anywhere: unlike query-batch search there is no
  "broadcast the query matrix" step — the corpus is both sides, and both
  sides only ever stream/shuffle.

With a hash-picked coarse quantizer (IVFIndex.build_fixed) every stage —
centroid choice, assignment, probe ranking, rerank — is SQL-expressible,
so the bucketed GRAPH machinery is value-oracled end to end in DuckDB
(registry: knn_graph_fixed), the same discipline as ann_ivf_fixed.
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ann import _with_partition_id, centroid_matrix
from .topk import Metric, _cogroup_topk, _metric_scorer, distance_col, topk_agg

__all__ = ["knn_graph_window", "knn_graph_bucketed"]


def knn_graph_window(
    corpus: DataFrame,
    k: int = 5,
    metric: Metric = "sqeuclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN graph: (src_id, neighbor_id, rank, dist), k rows per src
    (fewer when the corpus has < k+1 rows). Self-pairs excluded by id."""
    src = corpus.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    dst = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    d, asc = distance_col(metric, F.col("q_vec"), F.col(vec_col))
    pairs = (
        src.crossJoin(dst)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dist", d)
    )
    return topk_agg(pairs, k, asc=asc).withColumnRenamed("query_id", "src_id")


def knn_graph_bucketed(
    index,
    k: int = 5,
    nprobe: int = 4,
    kernel: str = "expr",
) -> DataFrame:
    """Approximate k-NN graph over an IVFIndex's assigned corpus (trained or
    fixed build — the fixed build makes the whole pipeline SQL-oracle-able).

    ``index``: an IVFIndex (ann.py) — supplies the centroid relation, the
    primary assignment (``index.assigned`` carries partition_id), and the
    metric/column bindings. Returns (src_id, neighbor_id, rank, dist).

    ``kernel='expr'`` (default) scores candidates with the SQL-fold
    expression — the DuckDB-oracle tier, same doubles as the oracle.
    ``kernel='arrow'`` is the corpus-scale throughput form: probes and
    residents are COGROUPED on the bucket key and each bucket is scored as
    one vectorized NumPy block (``applyInArrow`` cogroup through the shared
    per-group routine, topk.topk_group — the query side is corpus-sized so
    it arrives by shuffle instead of broadcast). Per-bucket local top-k bounds
    the merge input to ~nprobe*k rows per src; distances are last-ulps of
    the expression form (stable ||q||^2-2qc+||c||^2 expansion), ranked rows
    identical under the (dist, neighbor_id) tie-break — the same contract
    knn_scalable ships under its value oracle. Probes are ranked with the
    element fold, so probe SETS are bit-identical to the expression form
    (see ann._with_partition_id).
    """
    if kernel not in ("expr", "arrow"):
        raise ValueError(f"kernel must be 'expr' or 'arrow'; got {kernel!r}")
    nprobe = min(nprobe, index.n_centroids)
    id_col, vec_col = index.id_col, index.vec_col

    # src_id is query_id until the merge: the graph is a top-k search whose
    # query side is the corpus itself
    src = index.assigned.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )

    if kernel == "arrow":
        metric = index.metric
        if metric not in ("sqeuclidean", "cosine"):
            raise NotImplementedError(
                "knn_graph_bucketed(kernel='arrow') ranks probes with the "
                f"sqeuclidean fold; use kernel='expr' for metric={metric!r}"
            )
        scorer = _metric_scorer(metric)
        # probe ranking INSIDE the corpus scan (mapInArrow): the expression
        # form below materializes a src x centroids crossJoin row per pair
        # through the interpreted HOF fold — ~1B rows at 1M x 1024, hours of
        # pure expression overhead — while the kernel walks the same pairs
        # as vectorized numpy and emits only the n x nprobe survivors (the
        # scale form; probe SETS bit-identical, see ann._with_partition_id).
        probes = _with_partition_id(
            src, centroid_matrix(index), "q_vec", nprobe=nprobe, mode="exact"
        )
        residents = index.assigned.select(
            F.col(id_col).alias("neighbor_id"), "partition_id", vec_col
        )

        def bucket_topk(qtbl, ctbl):
            # k+1 locally: a src's OWN bucket contains itself; the self row
            # is dropped here, and the global merge re-trims to k.
            out = _cogroup_topk(qtbl, "q_vec", ctbl, vec_col, scorer, k + 1)
            return out.filter(pc.not_equal(out["query_id"], out["neighbor_id"]))

        partials = probes.groupBy("partition_id").cogroup(
            residents.groupBy("partition_id")
        ).applyInArrow(
            bucket_topk, schema="query_id bigint, neighbor_id bigint, dist double"
        )
        return topk_agg(partials, k).withColumnRenamed("query_id", "src_id")

    # probe ranking with the sides of knn_window SWAPPED: the src side is
    # corpus-sized (never broadcastable), the centroid side is tiny — so
    # centroids broadcast and the corpus streams. Same expression fold +
    # (dist, centroid_id) tie-break as the query-batch search path. This is
    # the ORACLE tier: n x n_centroids interpreted-HOF rows — fine at test
    # SF, wrong at corpus scale (use kernel='arrow' there).
    d_probe, asc_p = distance_col(
        "sqeuclidean" if index.metric != "inner_product" else "inner_product",
        F.col("q_vec"),
        F.col("centroid"),
    )
    order_p = [
        F.col("probe_dist").asc() if asc_p else F.col("probe_dist").desc(),
        F.col("centroid_id").asc(),
    ]
    w_probe = Window.partitionBy("query_id").orderBy(*order_p)
    probes = (
        src.crossJoin(F.broadcast(index.centroids))
        .withColumn("probe_dist", d_probe)
        .withColumn("prn", F.row_number().over(w_probe))
        .filter(F.col("prn") <= nprobe)
        .select("query_id", "q_vec", F.col("centroid_id").alias("partition_id"))
    )

    # candidates: shuffle equi-join on the bucket key (both sides corpus-
    # scale; a broadcast would be wrong here, unlike query-batch search).
    # Each neighbor lives in exactly ONE primary bucket, so no candidate
    # dedup is needed; the src row itself arrives via its rank-1 probe and
    # is dropped by id.
    cand = probes.join(
        index.assigned.select(
            F.col(id_col).alias("neighbor_id"), "partition_id", vec_col
        ),
        "partition_id",
    ).filter(F.col("query_id") != F.col("neighbor_id"))

    d, asc = distance_col(index.metric, F.col("q_vec"), F.col(vec_col))
    return topk_agg(
        cand.select("query_id", "neighbor_id", d.alias("dist")), k, asc=asc
    ).withColumnRenamed("query_id", "src_id")
