"""Embedding-pair mining: margin-based bitext mining and hard-negative
mining — the two standard "mine training pairs out of a huge embedding
space" operations of an LLM-data pipeline (beyond the reference's surface;
the reference only SEARCHES one query batch, utils_grid_search.py:890-951).

* ``mine_bitext`` — Artetxe & Schwenk 2019 ("Margin-based Parallel Corpus
  Mining with Multilingual Sentence Embeddings", ACL; the CCMatrix /
  LASER recipe): for source set X and target set Y, a candidate pair
  (x, y) scores

      margin(x, y) = cos(x, y) / (avgk(x)/2 + avgk(y)/2)

  where ``avgk(x)`` is the mean cosine of x's k nearest neighbors in Y
  (and avgk(y) of y's in X) — the "ratio" margin over the "max" retrieval
  strategy: each x's best-margin forward candidate is kept, optionally
  thresholded. The penalty terms demote hub vectors that are close to
  EVERYTHING, which plain cosine thresholds cannot.

* ``mine_hard_negatives`` — the DPR recipe (Karpukhin et al. 2020): per
  query, the top-k nearest corpus rows that are NOT gold positives —
  the negatives that actually move a contrastive loss.

Scale shape (the 100 TB story): both operators are compositions of the
engine's existing exact/ANN top-k physical forms — each direction is one
broadcast-query Arrow scan (``knn_scalable``) or bucketed ANN probe, the
margin penalties are map-combinable per-id means over the k-NN result
(~k rows per id), and the final joins are id equi-joins of id-keyed
relations. Nothing all-pairs, nothing corpus² — the crossJoin form exists
only inside the sf0.01 DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from ..materialize import materialize
from .topk import knn_scalable, knn_window

__all__ = ["mine_bitext", "mine_hard_negatives"]

_KERNELS = ("window", "scalable", "ivf")


def _unit_norm(df: DataFrame, vec_col: str) -> DataFrame:
    """L2-normalize an array column (zero vectors -> NULL elements via the
    nullif guard, same convention as vec_cosine_distance). Cosine itself is
    scale-invariant; normalization exists so the IVF tier's SQEUCLIDEAN
    coarse quantizer (training, assignment, probe ranking) orders cells by
    cosine — on unit vectors d2 = 2 - 2*cos, the FAISS normalize-then-L2
    recipe for cosine indexes.

    The whole thing is ONE aggregate whose finish lambda emits the scaled
    array: the naive ``transform(vec, x -> x / norm(vec))`` re-evaluates
    the full norm fold per ELEMENT in interpreted HOF mode (dim× the work
    — measured as the dominant cost of normalizing a 64-d relation).
    Same per-element doubles, same fold order, same nullif guard — the
    emitted values are bit-identical to the naive form."""
    return df.withColumn(
        vec_col,
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
            lambda s: F.transform(
                F.col(vec_col),
                lambda x: x.cast("double") / F.nullif(F.sqrt(s), F.lit(0.0)),
            ),
        ),
    )


def _knn_cos(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    kernel: str,
    nprobe: int = 8,
    n_centroids: int = 64,
    index=None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cos) — cosine similarity top-k via the
    chosen physical form (window = declarative oracle tier, scalable = the
    broadcast-query Arrow scan, ivf = the approximate probed tier for
    corpus scale: only nprobe/n_centroids of the corpus is scored per
    query, the reference's own approximate-above-exact-oracle play)."""
    if kernel == "ivf":
        from .ann import IVFIndex

        owned = index is None
        if owned:
            index = IVFIndex.build(
                _unit_norm(corpus.select("vec_id", "embedding"), "embedding"),
                n_centroids=n_centroids,
                metric="sqeuclidean",
            )
        qn = _unit_norm(queries.select("query_id", "q_vec"), "q_vec")
        if index.metric == "sqeuclidean":
            # FAISS's actual cosine recipe end to end: on unit vectors
            # d2 = 2 - 2*cos, so the sqeuclidean tier ranks identically to
            # cosine — which unlocks the IVF Arrow form (arrow_score=True,
            # one DGEMM per scan batch x bucket) in place of the
            # per-candidate interpreted fold. cos recovers as
            # 1 - d2/2. The ivf tier is governed by the overlap-floor
            # contract oracles (bitext_mine_ann / hard_negatives_ann), not
            # value-pinned — ulp-level tie differences vs the cosine
            # expression path are inside the floor's 2x margin; the margin
            # arithmetic itself stays bit-oracled via the exact kernels.
            out = index.search(qn, k=k, nprobe=nprobe, arrow_score=True)
            out = out.withColumn(
                "cos", F.lit(1.0) - F.col("dist") / F.lit(2.0)
            ).drop("dist")
            if owned:
                # the index built here is freed here: the result is
                # materialized first, and the caller release()s it
                try:
                    out = materialize(out)
                finally:
                    index.unpersist()
            return out
        # back-compat: an externally built cosine-metric index handle
        out = index.search(qn, k=k, nprobe=nprobe)
    else:
        fn = knn_window if kernel == "window" else knn_scalable
        out = fn(queries, corpus, k=k, metric="cosine")
    # distance_col('cosine') is 1 - cos
    return out.withColumn("cos", F.lit(1.0) - F.col("dist")).drop("dist")


def mine_bitext(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float | None = None,
    kernel: str = "window",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 8,
    n_centroids: int = 64,
    fwd_index=None,
    bwd_index=None,
) -> DataFrame:
    """Margin-mined candidate pairs: one row per source vector — its
    best-margin target under the ratio margin — columns
    (src_id, tgt_id, cos, margin), optionally filtered to
    ``margin >= threshold``. Deterministic: candidate order is
    (margin DESC, tgt_id ASC).

    ``kernel='window'`` runs both k-NN directions through the declarative
    window form (the DuckDB-oracle tier); ``'scalable'`` swaps in the
    broadcast-query Arrow scan — identical results (the knn_scalable
    contract), corpus-scale physicals. ``kernel='ivf'`` routes both
    directions through the probed IVF tier (one index per direction over
    unit-normalized vectors; margin penalties come from the SAME
    approximate k-NN lists, the CCMatrix/LASER production recipe) —
    approximate, governed by ``nprobe``/``n_centroids``; pass prebuilt
    cosine indexes over the normalized tgt/src as ``fwd_index`` /
    ``bwd_index`` to amortize builds across mining calls. Without them the
    result reads materialized searches: ``release()`` it after its last
    action.
    """
    if kernel not in _KERNELS:
        raise ValueError(f"kernel must be one of {_KERNELS}; got {kernel!r}")
    if k < 1:
        raise ValueError("k must be >= 1")
    s = src.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    t = tgt.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    # canonical corpus-side names up front: every downstream kernel
    # (knn_window/knn_scalable defaults, _knn_cos's index build) assumes
    # (vec_id, embedding) — aliasing here makes non-default
    # id_col/vec_col work on all paths instead of only the query side
    src_c = src.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    tgt_c = tgt.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))

    # forward: every source's k nearest targets (candidates AND the x-side
    # penalty come from this ONE k-NN job);
    # backward: every target's k nearest sources — the y-side penalty only.
    # On the ivf kernel without a prebuilt index, _knn_cos builds the
    # direction's index, materializes the search and frees the index, so
    # the caller release()s the result (the duplicate_components contract).
    # Both directions run on the caller's thread: their Spark jobs carry
    # its job group.
    fwd = _knn_cos(s, tgt_c, k, kernel, nprobe, n_centroids, fwd_index)
    bwd = _knn_cos(t, src_c, k, kernel, nprobe, n_centroids, bwd_index)

    # order-fixed penalty fold (the bm25_search discipline): per id, sort
    # the k neighbor cosines by neighbor_id and sum ascending — the same
    # doubles in the same order as the DuckDB twin, so the margin argmax
    # is bit-stable across engines (a bare avg() folds in partition order).
    # Computed as a WINDOW over each k-NN relation, not a separate groupBy
    # + join (guide §2.4): both k-NN merges already partition by query_id,
    # so the penalty window adds NO exchange — and the fwd relation is
    # referenced ONCE instead of twice (the groupBy branch re-executed the
    # whole search subplan; exchange reuse does not fire across the
    # differently-shaped consumers). Same array, same sort, same fold,
    # same division — bit-identical penalties.
    wq = Window.partitionBy("query_id")

    def _pen_col() -> Column:
        arr = F.array_sort(
            F.collect_list(
                F.struct(F.col("neighbor_id").alias("i"), F.col("cos").alias("c"))
            ).over(wq)
        )
        return F.aggregate(
            arr, F.lit(0.0), lambda acc, x: acc + x["c"]
        ) / F.count(F.lit(1)).over(wq)

    fwd_p = fwd.withColumn("avgk_src", _pen_col())
    # bwd reduces to one penalty row per target: rank==1 exists for every
    # query with >= 1 neighbor — exactly the ids the groupBy form produced
    pen_tgt = (
        bwd.withColumn("avgk_tgt", _pen_col())
        .filter(F.col("rank") == 1)
        .select(F.col("query_id").alias("tgt_id"), "avgk_tgt")
    )

    cand = (
        fwd_p.withColumnRenamed("query_id", "src_id")
        .withColumnRenamed("neighbor_id", "tgt_id")
        .join(pen_tgt, "tgt_id")
        .withColumn(
            "margin",
            F.col("cos") / (F.col("avgk_src") / 2.0 + F.col("avgk_tgt") / 2.0),
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id").asc()
    )
    best = (
        cand.withColumn("best", F.row_number().over(w))
        .filter(F.col("best") == 1)
        .select("src_id", "tgt_id", "cos", "margin")
    )
    if threshold is not None:
        best = best.filter(F.col("margin") >= F.lit(threshold))
    return best


def mine_hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    positives: DataFrame,
    k: int = 5,
    fetch: int | None = None,
    kernel: str = "window",
    nprobe: int = 8,
    n_centroids: int = 64,
    index=None,
) -> DataFrame:
    """Per query, the ``k`` nearest corpus rows that are NOT gold positives
    — (query_id, neighbor_id, rank, cos), rank 1..k re-numbered after the
    positives are removed. The re-rank preserves the underlying k-NN
    order (dist ASC, neighbor_id ASC) by sorting on the raw retrieval
    rank, NOT the derived ``cos`` — for distances within ~1 ulp of 0 the
    float ``1 - dist`` collapses distinct distances to identical cosines,
    and ordering by the raw rank keeps the result bit-stable against the
    (dist ASC, id ASC) DuckDB oracle on near-duplicate vectors.

    ``positives``: (query_id, pos_id) gold pairs. ``fetch`` is how many
    raw neighbors to pull before the anti-join — it must be at least
    ``k + max positives per query`` for every query to keep k negatives;
    default ``k + max per-query positive count`` computed with one
    tiny aggregate over ``positives`` (id-keyed, never corpus-sized).

    queries: (query_id, q_vec); corpus: (vec_id, embedding).

    ``kernel='ivf'`` retrieves through the probed IVF tier (approximate,
    governed by ``nprobe``/``n_centroids``; pass a prebuilt cosine
    ``index`` over the unit-normalized corpus to amortize the build) —
    the DPR production shape, where negatives come from the serving ANN
    index rather than an exact scan. Without ``index`` the result reads a
    materialized search: ``release()`` it after its last action.
    """
    if kernel not in _KERNELS:
        raise ValueError(f"kernel must be one of {_KERNELS}; got {kernel!r}")
    if fetch is None:
        row = positives.groupBy("query_id").count().agg(F.max("count")).first()
        fetch = k + int(row[0] or 0)
    if fetch < k:
        raise ValueError(f"fetch={fetch} cannot be < k={k}")
    raw = _knn_cos(queries, corpus, fetch, kernel, nprobe, n_centroids, index)
    raw = raw.withColumnRenamed("rank", "raw_rank")
    negs = raw.join(
        positives.select(
            F.col("query_id"), F.col("pos_id").alias("neighbor_id")
        ),
        ["query_id", "neighbor_id"],
        "left_anti",
    )
    # re-rank by the RAW retrieval rank (which already encodes dist ASC,
    # neighbor_id ASC) — not by the derived cos, which can collapse
    # distinct sub-ulp distances and flip the tie-break vs the oracle
    w = Window.partitionBy("query_id").orderBy(F.col("raw_rank").asc())
    return (
        negs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )
