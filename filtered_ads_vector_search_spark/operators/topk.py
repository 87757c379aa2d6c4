"""Filtered exact k-NN — the engine's core operator (SURVEY.md §2 D1/F1).

The reference's correctness oracle is an exact brute-force filtered search
(reference: calc_truth utils_grid_search.py:953-1027, prefilter applied INSIDE
the search at 999-1002; cpu_search 890-951 with argpartition top-k at 923-928).

Two physical forms, one logical semantics:

* ``knn_window``  — declarative: crossJoin -> distance expr -> rank<=k window.
  Catalyst turns the rank filter into WindowGroupLimit (per-group top-k
  pushdown, the direct analog of argpartition) and pushes the rating-bucket
  predicate below the join. Used for oracle-checked correctness at test SF.

* ``knn_scalable`` — the 100 TB form: broadcast the (small) query matrix into
  an Arrow-batched ``mapInPandas`` over corpus partitions, compute a LOCAL
  top-k per query per partition with NumPy argpartition, then merge partials
  with a per-query global top-k. Shuffle volume is O(partitions × queries × k)
  instead of O(|corpus| × |queries|) — partial-agg/final-agg shaped, no
  crossJoin ever materialized.

Filter-before-top-k: both forms take the corpus AFTER predicate application;
callers filter first (a post-filter would return <k rows and wrong recall —
SURVEY.md §7 hard parts).

Tie-breaking: (distance, neighbor_id) ascending — deterministic under the
reference's order-insensitive recall (utils_grid_search.py:82-84).
"""

from __future__ import annotations

from typing import Literal

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from .filters import is_query_col

Metric = Literal["sqeuclidean", "inner_product", "cosine", "hamming"]

# knn_scalable collects + broadcasts the query matrix; at 64 dims float64 this
# cap is ~50 MB of driver memory — far above the reference's 1-10k query sets,
# far below anything corpus-shaped.
MAX_BROADCAST_QUERIES = 100_000

__all__ = [
    "split_queries",
    "knn_window",
    "knn_scalable",
    "knn_blockwise",
    "distance_col",
]


def split_queries(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic hash split into (queries, corpus)
    (reference: train_test_split seed 42, cuvs_bench_grid_search_v3.py:771-779)."""
    q = (
        embeddings.filter(is_query_col(F.col(id_col)))
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    )
    c = embeddings.filter(~is_query_col(F.col(id_col)))
    return q, c


def distance_col(metric: Metric, a: Column, b: Column) -> tuple[Column, bool]:
    """(distance expression, ascending?) for a metric."""
    if metric == "sqeuclidean":
        return V.vec_sqeuclidean(a, b), True
    if metric == "inner_product":
        return V.vec_inner_product(a, b), False
    if metric == "cosine":
        return V.vec_cosine_distance(a, b), True
    if metric == "hamming":
        return V.vec_sign_hamming(a, b).cast("double"), True
    raise ValueError(f"unknown metric {metric!r}")


def knn_window(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    metric: Metric = "sqeuclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    distance: tuple[Column, bool] | None = None,
) -> DataFrame:
    """Declarative filtered exact top-k: crossJoin + window rank limit.

    Returns (query_id, neighbor_id, rank, dist). Queries with fewer than k
    passing corpus rows return fewer rows (filter-before-top-k semantics).
    ``distance``: optional custom (distance expression over q_vec/vec_col,
    ascending?) pair — e.g. packed-word hamming — replacing ``metric``.
    """
    q_side = queries
    c_side = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    if distance is not None:
        d, asc = distance
    elif metric == "cosine":
        # Hoist the two norm folds below the join: each is a per-ROW
        # quantity, so computing them inside the per-PAIR distance
        # projection (what vec_cosine_distance inlines) triples the
        # interpreted fold work of the scoring stage. Projections under a
        # join are evaluated once per input row; the values are
        # bit-identical (same folds, same product/nullif/division order).
        q_side = queries.select(
            "query_id", "q_vec", V.vec_norm(F.col("q_vec")).alias("_qn")
        )
        c_side = c_side.select(
            "neighbor_id",
            F.col(vec_col),
            V.vec_norm(F.col(vec_col)).alias("_cn"),
        )
        d = V.vec_cosine_distance_prenorm(
            F.col("q_vec"), F.col(vec_col), F.col("_qn"), F.col("_cn")
        )
        asc = True
    else:
        d, asc = distance_col(metric, F.col("q_vec"), F.col(vec_col))
    order = [F.col("dist").asc(), F.col("neighbor_id").asc()] if asc else [
        F.col("dist").desc(),
        F.col("neighbor_id").asc(),
    ]
    # Broadcast the QUERY side: the corpus is the big relation at scale, so
    # the nested-loop join must stream corpus partitions against a broadcast
    # query matrix (BuildLeft), never the reverse.
    pairs = (
        F.broadcast(q_side)
        .crossJoin(c_side)
        .withColumn("dist", d)
        .select("query_id", "neighbor_id", "dist")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


def topk_agg(pairs: DataFrame, k: int, asc: bool = True, dedup: bool = False) -> DataFrame:
    """Per-query top-k over a (query_id, neighbor_id, dist) relation as ONE
    hash aggregation: collect -> sort -> (distinct) -> slice -> re-explode.

    One shuffle (with map-side partial aggregation) versus the window form's
    shuffle + sort; ``dedup=True`` drops duplicate candidates, relying on
    duplicates being bit-identical (dist computed from identical inputs).
    Per-query aggregation state is the candidate set for that query — the
    same rows the window form would sort — so it is safe whenever the
    upstream candidate generator bounds per-query candidates (top-k inputs
    always should; an unbounded candidate set is the bug, not the agg).
    Tie-break matches the window form: (dist asc|desc, neighbor_id asc)."""
    skey = F.col("dist") if asc else -F.col("dist")
    s = pairs.select(
        "query_id",
        F.struct(
            skey.alias("o"), F.col("neighbor_id").alias("nid"), F.col("dist").alias("dist")
        ).alias("s"),
    )
    arr = F.array_sort(F.collect_list("s"))
    if dedup:
        arr = F.array_distinct(arr)
    top = s.groupBy("query_id").agg(F.slice(arr, 1, k).alias("arr"))
    return top.select("query_id", F.posexplode("arr").alias("pos", "s")).select(
        "query_id",
        F.col("s.nid").alias("neighbor_id"),
        (F.col("pos") + 1).alias("rank"),
        F.col("s.dist").alias("dist"),
    )


def _np_distances(metric: Metric, q: np.ndarray, c: np.ndarray) -> np.ndarray:
    """queries×corpus distance matrix in float64 (similarities negated so that
    'smaller is better' holds uniformly)."""
    if metric == "sqeuclidean":
        # ||q||^2 - 2qc + ||c||^2, computed stably in float64
        return (
            (q * q).sum(axis=1)[:, None]
            - 2.0 * (q @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
    if metric == "inner_product":
        return -(q @ c.T)
    if metric == "cosine":
        qn = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-30)
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-30)
        return 1.0 - qn @ cn.T
    if metric == "hamming":
        return ((q > 0)[:, None, :] != (c > 0)[None, :, :]).sum(axis=2).astype(np.float64)
    raise ValueError(metric)


def _topk_set_mask(dmat: np.ndarray, kk: int) -> np.ndarray:
    """Exact per-row top-``kk`` SET under (dist asc, column-index asc) as a
    boolean mask — fully vectorized, no per-query Python loop.

    A bare argpartition keeps an arbitrary member of a distance tie
    straddling the cut, which would break the exact equivalence with the
    window form (and partition-count invariance) for integer metrics or
    duplicate vectors. Here: kth distance via partition (O(n) per row),
    everything strictly below it is in; the remaining slots are filled by
    the LOWEST column indices among the ties at the threshold (columns are
    pre-sorted by ascending neighbor_id, so column order IS the id
    tie-break). Each row ends up with exactly kk True cells."""
    thresh = np.partition(dmat, kk - 1, axis=1)[:, kk - 1]
    lt = dmat < thresh[:, None]
    eq = dmat == thresh[:, None]
    need = kk - lt.sum(axis=1)
    take_eq = eq & (np.cumsum(eq, axis=1) <= need[:, None])
    return lt | take_eq


# bound the (q_chunk x n) distance block a single kernel invocation holds
# (mirrors ann._arrow_bucket_topk's 256-query chunking)
_QUERY_CHUNK = 256


def _local_topk_tuples(
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    c_ids: np.ndarray,
    c_mat: np.ndarray,
    metric: Metric,
    k: int,
    sign: float,
) -> pd.DataFrame:
    """Local top-k partials for one corpus block: presort the block by
    ascending neighbor_id (making column order the id tie-break), chunk the
    query side to bound the distance block, and emit the exact top-k SET per
    query via `_topk_set_mask`. Partial rows are NOT rank-ordered within a
    query — the global per-query window merge re-sorts by (dist,
    neighbor_id), so only the set membership and dist values matter here,
    and those are identical to the window form's."""
    order0 = np.argsort(c_ids)
    c_ids = c_ids[order0]
    c_mat = c_mat[order0]
    kk = min(k, c_mat.shape[0])
    frames = []
    for c0 in range(0, len(q_ids), _QUERY_CHUNK):
        c1 = min(c0 + _QUERY_CHUNK, len(q_ids))
        dmat = _np_distances(metric, q_mat[c0:c1], c_mat)
        rows, cols = np.nonzero(_topk_set_mask(dmat, kk))
        frames.append(
            pd.DataFrame(
                {
                    "query_id": q_ids[c0:c1][rows],
                    "neighbor_id": c_ids[cols],
                    "dist": sign * dmat[rows, cols],
                }
            )
        )
    if not frames:
        return pd.DataFrame({"query_id": [], "neighbor_id": [], "dist": []}).astype(
            {"query_id": "int64", "neighbor_id": "int64", "dist": "float64"}
        )
    return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]


def _arrow_vectors(batch, vec_col: str, dtype=np.float64) -> np.ndarray:
    """(n, d) matrix of ``dtype`` from an Arrow list<primitive> column —
    flat-buffer reshape, no per-row Python list materialization (the pandas
    object-array vstack this replaces was the dominant cost of the scan, not
    the BLAS). Conversion through the flat values buffer produces the same
    numbers as the per-row ``tolist()`` form: primitive upcasts are exact."""
    idx = batch.schema.get_field_index(vec_col)
    if idx < 0:  # get_field_index returns -1, which would silently read
        raise ValueError(  # the LAST column via negative indexing
            f"{vec_col}: column not found in batch schema {batch.schema.names}"
        )
    col = batch.column(idx)
    if col.null_count:
        raise ValueError(f"{vec_col}: null vectors are not searchable")
    offs = col.offsets.to_numpy()
    widths = np.diff(offs)
    if len(widths) and widths.min() != widths.max():
        raise ValueError(f"{vec_col}: ragged vector lengths in one batch")
    vals = col.values.to_numpy(zero_copy_only=False)[offs[0]:offs[-1]]
    return vals.reshape(batch.num_rows, int(widths[0]) if len(widths) else 0).astype(
        dtype
    )


def knn_scalable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    metric: Metric = "sqeuclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-out exact top-k: broadcast query matrix, per-batch local top-k
    (NumPy argpartition — reference: cpu_search utils_grid_search.py:919-928),
    then global per-query merge of the k-sized partials.

    At 100 TB the corpus scan is embarrassingly parallel, nothing shuffles
    except batches×queries×k partial rows, and the final merge is a
    per-query top-k over bounded partials.

    The scan is ``mapInArrow``: vectors cross the JVM→Python boundary as
    Arrow list buffers and become the (n, d) scoring matrix by a flat-buffer
    reshape (`_arrow_vectors`) — no per-row Python list objects; selection is
    the vectorized exact-tie-break mask (`_topk_set_mask`), the same kernel
    discipline as ann._arrow_bucket_topk.

    The QUERY side is collected to the driver and broadcast, so it must be
    small by design (the reference's query set is 1-10k rows). Collecting
    through limit(cap+1) bounds driver memory in the same single job — no
    extra count scan — and a mis-routed corpus-sized DataFrame raises
    instead of OOMing the driver; route huge query sets through
    knn_blockwise instead.
    """
    qrows = queries.select("query_id", "q_vec").limit(MAX_BROADCAST_QUERIES + 1).collect()
    if len(qrows) > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"knn_scalable broadcasts the query matrix via the driver; got "
            f"> {MAX_BROADCAST_QUERIES} queries. Use knn_blockwise for "
            f"corpus-sized query sets."
        )
    if not qrows:
        return queries.sparkSession.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, rank int, dist double"
        )
    q_ids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    q_mat = np.array([r["q_vec"] for r in qrows], dtype=np.float64)
    sign = -1.0 if metric == "inner_product" else 1.0
    # Real broadcast (one copy per executor), not closure capture (one copy
    # per task): at 10k queries x high dim the matrix is megabytes.
    bc = queries.sparkSession.sparkContext.broadcast((q_ids, q_mat))

    def local_topk(batches):
        import pyarrow as pa

        q_ids, q_mat = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            c_ids = (
                batch.column(batch.schema.get_field_index(id_col))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            c_mat = _arrow_vectors(batch, vec_col)
            # tie-aware k-smallest (mirrors the reference's argpartition at
            # utils_grid_search.py:923-928, plus the deterministic id
            # tie-break the merge stage relies on)
            out = _local_topk_tuples(q_ids, q_mat, c_ids, c_mat, metric, k, sign)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out["query_id"].to_numpy(), type=pa.int64()),
                    pa.array(out["neighbor_id"].to_numpy(), type=pa.int64()),
                    pa.array(out["dist"].to_numpy(), type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "dist"],
            )

    partials = corpus.select(id_col, vec_col).mapInArrow(
        local_topk, schema="query_id bigint, neighbor_id bigint, dist double"
    )
    asc = metric != "inner_product"
    order = [F.col("dist").asc() if asc else F.col("dist").desc(), F.col("neighbor_id").asc()]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


def knn_blockwise(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    metric: Metric = "sqeuclidean",
    n_query_blocks: int = 4,
    n_corpus_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k when BOTH sides are too large to broadcast — the canonical
    block-nested-loop kNN as a cogrouped Spark job.

    Each side is hashed into blocks; every (query_block, corpus_block) pair is
    cogrouped and answered with a NumPy local top-k (same argpartition kernel
    as knn_scalable); a per-query window merges the k-sized partials.

    Shuffle volume: |queries| x n_corpus_blocks + |corpus| x n_query_blocks —
    the block counts trade replication against per-task matrix size. Use
    knn_scalable (broadcast) whenever the query matrix fits an executor; use
    this when it doesn't (e.g. 10M+ queries).
    """
    spark = queries.sparkSession
    sign = -1.0 if metric == "inner_product" else 1.0

    qb = queries.select(
        "query_id",
        "q_vec",
        (F.abs(F.hash("query_id")) % n_query_blocks).alias("qblock"),
    )
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        (F.abs(F.hash(F.col(id_col))) % n_corpus_blocks).alias("cblock"),
    )
    # replicate each side across the other side's block ids (block-level
    # replication — vectors are copied n_blocks times, never |rows| times)
    qrep = qb.crossJoin(
        spark.range(n_corpus_blocks).select(F.col("id").cast("int").alias("cblock"))
    )
    crep = cb.crossJoin(
        spark.range(n_query_blocks).select(F.col("id").cast("int").alias("qblock"))
    )

    def block_topk(key, qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or cpdf.empty:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "dist": []}).astype(
                {"query_id": "int64", "neighbor_id": "int64", "dist": "float64"}
            )
        q_ids = qpdf["query_id"].to_numpy(dtype=np.int64)
        q_mat = np.vstack(qpdf["q_vec"].to_numpy()).astype(np.float64)
        c_ids = cpdf["neighbor_id"].to_numpy(dtype=np.int64)
        c_mat = np.vstack(cpdf["c_vec"].to_numpy()).astype(np.float64)
        return _local_topk_tuples(q_ids, q_mat, c_ids, c_mat, metric, k, sign)

    partials = (
        qrep.groupBy("qblock", "cblock")
        .cogroup(crep.groupBy("qblock", "cblock"))
        .applyInPandas(block_topk, schema="query_id bigint, neighbor_id bigint, dist double")
    )
    asc = metric != "inner_product"
    order = [F.col("dist").asc() if asc else F.col("dist").desc(), F.col("neighbor_id").asc()]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )
