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

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ann import centroid_matrix
from .topk import Metric, _arrow_vectors, _local_topk_tuples, distance_col

__all__ = ["knn_graph_window", "knn_graph_bucketed"]


def _exploded_probes_arrow(
    src: DataFrame, centroids: np.ndarray, nprobe: int, mode: str = "exact"
) -> DataFrame:
    """(src_id, q_vec) -> (src_id, q_vec, partition_id), one row per probed
    bucket, as ONE mapInArrow pass over the streaming corpus — the
    multi-probe generalization of ann._with_partition_id(_exact). The
    expression-path probe ranking costs n x n_centroids interpreted-HOF
    evaluations (a crossJoin row per pair: ~1B rows at 1M x 1024 — hours),
    while this kernel walks the same pairs as vectorized numpy inside the
    scan, emitting only the n x nprobe survivors.

    ``mode='exact'`` uses the element-ascending fold — identical doubles to
    the SQL aggregate, so probe SETS are bit-identical to the expression
    form (asserted by the arrow==expr parity test; build_fixed's oracle
    contract). It is also O(n_centroids) MEMORY-TRAFFIC-bound per element:
    ~n x k x d x 24 bytes of temp traffic (31 TB at 5M x 4096c — measured
    as the whole wall time of the first 5M graph-bench attempt, round 10).
    ``mode='blas'`` is the declared-throughput twin (the trained-build /
    _with_partition_id discipline): rank by ``|c|^2 - 2 v.c`` (|v|^2 is
    constant per row, rank-safe) — ONE DGEMM per batch, same stable argsort
    and lowest-centroid-id tie-break. ulp rearrangement can flip exact
    near-ties, which trained probing tolerates (the graph is approximate;
    edge recall is the measured contract) and fixed/oracle builds must not.
    """
    C = np.ascontiguousarray(centroids, dtype=np.float64)
    if mode not in ("exact", "blas"):
        raise ValueError(f"probe mode must be 'exact' or 'blas'; got {mode!r}")
    cn = (C * C).sum(axis=1)
    t = min(nprobe, C.shape[0])

    def probe(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = _arrow_vectors(batch, "q_vec")
            if mode == "blas":
                dist = cn[None, :] - 2.0 * (V @ C.T)
            else:
                # exact left fold (see _with_partition_id_exact): identical
                # doubles to the SQL aggregate, (batch x k) working set only
                dist = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
                for i in range(C.shape[1]):
                    d = V[:, i, None] - C[None, :, i]
                    dist += d * d
            keep = np.argsort(dist, axis=1, kind="stable")[:, :t]
            rep = np.repeat(np.arange(batch.num_rows), t)
            out = batch.take(pa.array(rep, type=pa.int64()))
            yield out.append_column(
                "partition_id",
                pa.array(keep.ravel().astype(np.int32), type=pa.int32()),
            )

    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        list(src.schema.fields) + [StructField("partition_id", IntegerType())]
    )
    return src.mapInArrow(probe, out_schema)


def knn_graph_window(
    corpus: DataFrame,
    k: int = 5,
    metric: Metric = "sqeuclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN graph: (src_id, neighbor_id, rank, dist), k rows per src
    (fewer when the corpus has < k+1 rows). Self-pairs excluded by id."""
    src = corpus.select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("q_vec"))
    dst = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    d, asc = distance_col(metric, F.col("q_vec"), F.col(vec_col))
    order = [
        F.col("dist").asc() if asc else F.col("dist").desc(),
        F.col("neighbor_id").asc(),
    ]
    w = Window.partitionBy("src_id").orderBy(*order)
    return (
        src.crossJoin(dst)
        .filter(F.col("src_id") != F.col("neighbor_id"))
        .withColumn("dist", d)
        .select("src_id", "neighbor_id", "dist")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "neighbor_id", "rank", "dist")
    )


def knn_graph_bucketed(
    index,
    k: int = 5,
    nprobe: int = 4,
    kernel: str = "expr",
    probe_mode: str = "exact",
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
    one vectorized NumPy block (``applyInPandas`` cogroup — the graph analog
    of ann._arrow_bucket_topk, except the query side is corpus-sized so it
    arrives by shuffle instead of broadcast). Per-bucket local top-k bounds
    the merge input to ~nprobe*k rows per src; distances are last-ulps of
    the expression form (stable ||q||^2-2qc+||c||^2 expansion), ranked rows
    identical under the (dist, neighbor_id) tie-break — the same contract
    knn_scalable ships under its value oracle.

    ``probe_mode`` (arrow kernel only): 'exact' keeps probe SETS
    bit-identical to the expression form; 'blas' ranks probes with one
    DGEMM per scan batch — the corpus-scale form (the exact fold's temp
    traffic is ~24 bytes x n x n_centroids x dim: 31 TB at 5M x 4096c,
    measured round 10 as the entire wall time). See _exploded_probes_arrow.
    """
    if kernel not in ("expr", "arrow"):
        raise ValueError(f"kernel must be 'expr' or 'arrow'; got {kernel!r}")
    if probe_mode != "exact" and kernel != "arrow":
        raise ValueError("probe_mode is an arrow-kernel knob")
    nprobe = min(nprobe, index.n_centroids)
    id_col, vec_col = index.id_col, index.vec_col

    src = index.assigned.select(
        F.col(id_col).alias("src_id"), F.col(vec_col).alias("q_vec")
    )

    order = [
        F.col("dist").asc(),
        F.col("neighbor_id").asc(),
    ]
    w = Window.partitionBy("src_id").orderBy(*order)

    if kernel == "arrow":
        metric = index.metric
        if metric not in ("sqeuclidean", "cosine"):
            raise NotImplementedError(
                "knn_graph_bucketed(kernel='arrow') ranks probes with the "
                f"sqeuclidean fold; use kernel='expr' for metric={metric!r}"
            )
        sign = -1.0 if metric == "inner_product" else 1.0
        # probe ranking INSIDE the corpus scan (mapInArrow): the expression
        # form below materializes a src x centroids crossJoin row per pair
        # through the interpreted HOF fold — ~1B rows at 1M x 1024, hours of
        # pure expression overhead — while the kernel walks the same pairs
        # as vectorized numpy and emits only the n x nprobe survivors (the
        # scale form; probe SETS bit-identical, see _exploded_probes_arrow).
        probes = _exploded_probes_arrow(
            src, centroid_matrix(index), nprobe, mode=probe_mode
        )
        residents = index.assigned.select(
            F.col(id_col).alias("neighbor_id"), "partition_id", vec_col
        )

        def bucket_topk(qtbl, ctbl):
            # cogrouped applyInArrow: the group's vector columns become the
            # (n, d) scoring matrices by flat-buffer reshape
            # (_arrow_vectors) — the applyInPandas form this replaces
            # materialized n x d Python list objects per group
            # (np.array(series.tolist()), the same per-row cost
            # _arrow_vectors' docstring records as dominating the scan
            # kernels). Scored doubles identical: primitive upcasts exact.
            import pyarrow as pa

            from .topk import _arrow_vectors

            if qtbl.num_rows == 0 or ctbl.num_rows == 0:
                return pa.table(
                    {
                        "src_id": pa.array([], type=pa.int64()),
                        "neighbor_id": pa.array([], type=pa.int64()),
                        "dist": pa.array([], type=pa.float64()),
                    }
                )
            qb = qtbl.combine_chunks().to_batches()[0]
            cb = ctbl.combine_chunks().to_batches()[0]
            q_ids = (
                qb.column(qb.schema.get_field_index("src_id"))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            q_mat = _arrow_vectors(qb, "q_vec")
            c_ids = (
                cb.column(cb.schema.get_field_index("neighbor_id"))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            c_mat = _arrow_vectors(cb, vec_col)
            # k+1 locally: a src's OWN bucket contains itself; the self row
            # is dropped below, and the global merge re-trims to k.
            out = _local_topk_tuples(q_ids, q_mat, c_ids, c_mat, metric, k + 1, sign)
            out = out[out["query_id"] != out["neighbor_id"]]
            return pa.table(
                {
                    "src_id": pa.array(
                        out["query_id"].to_numpy(), type=pa.int64()
                    ),
                    "neighbor_id": pa.array(
                        out["neighbor_id"].to_numpy(), type=pa.int64()
                    ),
                    "dist": pa.array(out["dist"].to_numpy(), type=pa.float64()),
                }
            )

        partials = probes.groupBy("partition_id").cogroup(
            residents.groupBy("partition_id")
        ).applyInArrow(
            bucket_topk, schema="src_id bigint, neighbor_id bigint, dist double"
        )
        if index.metric == "inner_product":
            order_ip = [F.col("dist").desc(), F.col("neighbor_id").asc()]
            w = Window.partitionBy("src_id").orderBy(*order_ip)
        return (
            partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("src_id", "neighbor_id", "rank", "dist")
        )

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
    w_probe = Window.partitionBy("src_id").orderBy(*order_p)
    probes = (
        src.crossJoin(F.broadcast(index.centroids))
        .withColumn("probe_dist", d_probe)
        .withColumn("prn", F.row_number().over(w_probe))
        .filter(F.col("prn") <= nprobe)
        .select("src_id", "q_vec", F.col("centroid_id").alias("partition_id"))
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
    ).filter(F.col("src_id") != F.col("neighbor_id"))

    d, asc = distance_col(index.metric, F.col("q_vec"), F.col(vec_col))
    if not asc:
        w = Window.partitionBy("src_id").orderBy(
            F.col("dist").desc(), F.col("neighbor_id").asc()
        )
    return (
        cand.select("src_id", "neighbor_id", d.alias("dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "neighbor_id", "rank", "dist")
    )
