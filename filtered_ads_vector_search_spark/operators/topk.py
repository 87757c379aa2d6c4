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
  an Arrow-batched ``mapInArrow`` over corpus partitions, compute a LOCAL
  top-k SET per query per batch with the exact-tie-break mask
  (``_topk_set_mask``), then merge partials with a per-query global top-k.
  Shuffle volume is O(partitions × queries × k) instead of
  O(|corpus| × |queries|) — partial-agg/final-agg shaped, no crossJoin ever
  materialized.

One Arrow scan-and-top-k kernel, one top-k merge: every Arrow search form
(exact k-NN and range, IVF top-k and range, IVFPQ ADC, LSH, the blockwise
and k-NN-graph cogroups) runs ``scan_topk`` / ``topk_group`` and supplies
only its candidate groups and its scorer; every per-query top-k merge is
``topk_agg``, whose one switch is whether candidates can repeat. An index
family has at most one Arrow form, picked by one on/off switch
(``arrow_switch``).

Filter-before-top-k: both forms take the corpus AFTER predicate application;
callers filter first (a post-filter would return <k rows and wrong recall —
SURVEY.md §7 hard parts).

Tie-breaking: (distance, neighbor_id) ascending — deterministic under the
reference's order-insensitive recall (utils_grid_search.py:82-84).
"""

from __future__ import annotations

import functools
import operator
from typing import Literal

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from .filters import is_query_col

Metric = Literal["sqeuclidean", "inner_product", "cosine", "hamming"]

# The Arrow kernels collect + broadcast the query matrix (collect_queries);
# at 64 dims float64 this cap is ~50 MB of driver memory — far above the
# reference's 1-10k query sets, far below anything corpus-shaped. The one
# query cap: ann.search_sharded shards batches past it.
MAX_BROADCAST_QUERIES = 100_000


def arrow_switch(value, name: str = "arrow") -> bool:
    """The one meaning of every search form's Arrow switch (IVF
    ``arrow_score``, IVFPQ ``arrow_adc``, ``plan_filtered_search``'s
    ``arrow``): ``False`` runs the expression form, ``True`` the family's
    one Arrow form. ``"blas"`` is accepted as a spelling of ``True``; any
    other value raises."""
    if value is not False and value is not True and value != "blas":
        raise ValueError(f"{name} must be False, True or 'blas'; got {value!r}")
    return value is not False


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
    # Broadcast the QUERY side: the corpus is the big relation at scale, so
    # the nested-loop join must stream corpus partitions against a broadcast
    # query matrix (BuildLeft), never the reverse.
    pairs = F.broadcast(q_side).crossJoin(c_side).withColumn("dist", d)
    return topk_agg(pairs, k, asc=asc)


def topk_agg(pairs: DataFrame, k: int, asc: bool = True, dedup: bool = False) -> DataFrame:
    """The one per-query top-k merge: (query_id, neighbor_id, dist) ->
    (query_id, neighbor_id, rank, dist) under the (dist asc|desc,
    neighbor_id asc) tie-break. Its one switch is whether candidates can
    repeat.

    ``dedup=False`` (IVF buckets, exact scans, blockwise and graph
    partials: every pair arrives once) is the row_number window. Catalyst
    turns the rank filter into WindowGroupLimit, which applies a PARTIAL
    per-query top-k before the exchange — with no duplicates to eliminate
    that beats an aggregation that must shuffle every candidate into
    collect_list (measured ~20% on the IVF bench; the gap grows with
    candidates/query at scale).

    ``dedup=True`` (LSH tables and graph-search hops repeat candidates) is
    ONE hash aggregation: collect -> sort -> distinct -> slice ->
    re-explode. One shuffle (with map-side partial aggregation) versus a
    distinct + window's two; it relies on duplicates being bit-identical
    (dist computed from identical inputs). Per-query aggregation state is
    the candidate set for that query — the same rows the window form would
    sort — so it is safe whenever the upstream candidate generator bounds
    per-query candidates (top-k inputs always should; an unbounded
    candidate set is the bug, not the agg)."""
    pairs = pairs.select("query_id", "neighbor_id", "dist")
    if not dedup:
        order = F.col("dist").asc() if asc else F.col("dist").desc()
        w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "dist")
        )
    skey = F.col("dist") if asc else -F.col("dist")
    s = pairs.select(
        "query_id",
        F.struct(
            skey.alias("o"), F.col("neighbor_id").alias("nid"), F.col("dist").alias("dist")
        ).alias("s"),
    )
    arr = F.array_distinct(F.array_sort(F.collect_list("s")))
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


# bound the (q_chunk x n) distance block a single scorer call holds
_QUERY_CHUNK = 256
# corpus-column tile width of the element folds: each (q_chunk x tile)
# temporary is ~8 MB (cache-resident) instead of (q_chunk x |group|)
_FOLD_TILE = 4096

_PARTIAL_SCHEMA = "query_id long, neighbor_id long, dist double"


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


def _arrow_ids(batch, col: str) -> np.ndarray:
    """An Arrow integer column as int64."""
    return batch.column(col).to_numpy(zero_copy_only=False).astype(np.int64)


def _tiled_fold(A: np.ndarray, BT: np.ndarray, term) -> np.ndarray:
    """(len(A) x n) element-ascending left fold of ``term(a_el, b_el)``
    between the rows of ``A`` and the columns of ``BT`` (d x n,
    pre-transposed so row ``el`` is contiguous): the same IEEE doubles as
    the 0.0D-seeded ascending aggregate folds of the expression forms and
    the DuckDB oracles. The fold runs over corpus-column TILES: at 5M-row
    scale a per-element (rows x n) temporary generated TBs of allocation
    traffic across the el-loop. Every cell still accumulates elements in
    ascending order from 0.0 — tiling partitions columns, never the fold
    order — so the doubles are identical to the untiled fold."""
    d, n = BT.shape
    out = np.empty((A.shape[0], n), dtype=np.float64)
    for t0 in range(0, n, _FOLD_TILE):
        t1 = min(t0 + _FOLD_TILE, n)
        blk = np.zeros((A.shape[0], t1 - t0), dtype=np.float64)
        for el in range(d):  # ascending-element left fold
            blk += term(A[:, el, None], BT[el, t0:t1][None, :])
        out[:, t0:t1] = blk
    return out


def _sqdiff(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    diff = a - b
    return diff * diff


def _sqeuclidean_fold(A: np.ndarray, BT: np.ndarray) -> np.ndarray:
    """Squared-euclidean distances as the element-ascending (x-y)^2 fold —
    bit-identical to ``vec_sqeuclidean``."""
    return _tiled_fold(A, BT, _sqdiff)


# --- scorers -----------------------------------------------------------------
#
#     scorer(Q, qsel, key, data, extra) -> chunk_fn
#     chunk_fn(c0, c1) -> score matrix, or (score matrix, null mask)
#
# ``data`` is one group's rows, already sorted by ascending neighbor_id;
# ``key`` is the group value (bucket id; None for the exact forms); rows of
# the (c1-c0, len(data)) float64 matrix are queries ``Q[qsel[c0:c1]]``.
# Scores are smaller-is-better; the optional boolean mask marks pairs that
# are emitted as NULL dist (LSH cosine's zero-norm pairs).


def _sqeuclidean_bucket_scorer(Q, qsel, _key, V, _extra):
    """The element-ascending fold (`_sqeuclidean_fold`): bit-identical to
    the expression forms."""
    VT = np.ascontiguousarray(V.T)  # (d, n): row `el` is contiguous
    return lambda c0, c1: _sqeuclidean_fold(Q[qsel[c0:c1]], VT)


def _sqeuclidean_blas_scorer(Q, qsel, _key, V, _extra):
    """||q||^2 - 2 q.v + ||v||^2 via one DGEMM — the stable expansion of
    `_np_distances`, ~d times faster than the element fold at 64 dims. The
    summation order differs from the fold, so doubles agree only to
    last-ulps — this is the scorer of the IVF Arrow form
    (``IVFIndex.search(arrow_score=True)``) and of the exact tiers, not a
    bit-identity form. The top-k SET and ranks still
    match the expression path unless two rows land within ~1e-12 relative
    of a tie — including EXACT-duplicate rows: DGEMM's internal blocking
    can give identical input columns doubles one ulp apart across a block
    boundary (observed with n=109 duplicates: two distinct values on the
    plateau), so which duplicate id represents a plateau in the top-k set
    may differ from the fold's lowest-id pick; the selected distance
    MULTISET is unchanged (the rows are the same vector), which is what the
    fuzz contract asserts. The oracle gate compares at 6-decimal rounding,
    which both expansions satisfy. Unlike the fold (elementwise,
    batch-shape-invariant), DGEMM tiling varies with the matrix shapes, so
    blas distances can also differ at last-ulps across query-batch
    compositions (e.g. sharded vs single-shot) — ranks and result sets are
    unaffected away from exact ties."""
    Vn = (V * V).sum(axis=1)

    def chunk(c0, c1):
        Qc = Q[qsel[c0:c1]]
        return (Qc * Qc).sum(axis=1)[:, None] - 2.0 * (Qc @ V.T) + Vn[None, :]

    return chunk


def _metric_scorer(metric: Metric):
    """The exact forms' scorer: `_np_distances` (similarities negated, so
    smaller is better; callers emit with ``sign=-1`` for inner_product)."""
    if metric == "sqeuclidean":
        return _sqeuclidean_blas_scorer  # same expansion, norms hoisted

    def scorer(Q, qsel, _key, C, _extra):
        return lambda c0, c1: _np_distances(metric, Q[qsel[c0:c1]], C)

    return scorer


# --- the kernel --------------------------------------------------------------


def collect_queries(queries: DataFrame, who: str) -> tuple[np.ndarray, np.ndarray]:
    """The (query_id, q_vec) batch as driver arrays ``(qids, Q)`` — the
    query side every Arrow kernel broadcasts, so it must be small by design
    (the reference's query set is 1-10k rows). Collecting through
    ``limit(cap + 1)`` bounds driver memory in the same single job (no
    extra count scan), so a mis-routed corpus-sized relation raises instead
    of exhausting the driver. A repeated query_id raises too: results are
    keyed by query_id, so a repeat would emit each neighbor twice. An empty
    batch returns empty arrays."""
    rows = queries.select("query_id", "q_vec").limit(MAX_BROADCAST_QUERIES + 1).collect()
    if len(rows) > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"{who} broadcasts the query matrix via the driver; got "
            f"> {MAX_BROADCAST_QUERIES} queries. Shard the batch upstream "
            f"(ann.search_sharded), or use knn_blockwise for corpus-sized "
            f"query sets."
        )
    qids = np.array([r["query_id"] for r in rows], dtype=np.int64)
    n_ids = len(np.unique(qids))
    if n_ids != len(qids):
        raise ValueError(
            f"{who}: duplicate query_id rows in the query batch "
            f"({len(qids)} rows, {n_ids} distinct ids)"
        )
    return qids, np.array([r["q_vec"] for r in rows], dtype=np.float64)


def topk_group(
    qids: np.ndarray,
    Q: np.ndarray,
    qsel: np.ndarray,
    ids: np.ndarray,
    data: np.ndarray,
    scorer,
    top: int,
    radius: float | None = None,
    sign: float = 1.0,
    key=None,
    extra: tuple = (),
):
    """One candidate group's partial rows as an Arrow batch (query_id,
    neighbor_id, dist), or None when nothing is selected: queries
    ``Q[qsel]`` against the group's rows ``data`` (ids ``ids``).

    The group is pre-sorted by ascending neighbor_id, so column order IS
    the id tie-break; queries are scored in 256-row chunks to bound the
    (q x n) block. Top-k mode selects each query's exact top-``top`` SET
    (`_topk_set_mask`: O(n) partition + lowest-id tie fill) instead of a
    full stable argsort — the `topk_agg` merge re-ranks by (dist, id)
    globally, so only the SET and its score values matter, and a pair in
    the global top-k beats < k pairs globally, hence < k within any group.
    The row-wise O(n log n) sort dominated the kernel at 5M x 10k queries.
    Radius mode (``radius`` given) keeps every pair with
    ``score <= sign * radius``: membership is a per-pair predicate, so the
    emitted rows ARE the final relation. Null-masked pairs are never
    top-k-cut: every one is emitted with a NULL dist, so the merge sees the
    identical relation regardless of how nulls order. ``dist`` is emitted
    as ``sign * score``: scorers negate similarities (inner_product) to
    rank smaller-is-better, and ``sign=-1`` restores the form's
    larger-is-better values exactly (negation is exact)."""
    import pyarrow as pa

    order = np.argsort(ids)  # ascending id => exact tie-break
    ids = ids[order]
    chunk_fn = scorer(Q, qsel, key, data[order], extra)
    t = min(top, len(ids))
    out_q, out_n, out_d, out_z = [], [], [], []
    for c0 in range(0, len(qsel), _QUERY_CHUNK):
        c1 = min(c0 + _QUERY_CHUNK, len(qsel))
        sc = chunk_fn(c0, c1)
        sc, null = sc if isinstance(sc, tuple) else (sc, None)
        if radius is not None:
            hit = sc <= sign * radius
        elif null is None:
            hit = _topk_set_mask(sc, t)
        else:
            hit = _topk_set_mask(np.where(null, np.inf, sc), t) | null
        rows, cols = np.nonzero(hit)
        out_q.append(qids[qsel[c0:c1][rows]])
        out_n.append(ids[cols])
        out_d.append(sign * sc[rows, cols])
        if null is not None:
            out_z.append(null[rows, cols])
    dist = np.concatenate(out_d)
    if len(dist) == 0:
        return None
    z = np.concatenate(out_z) if out_z else None
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.concatenate(out_q), type=pa.int64()),
            pa.array(np.concatenate(out_n), type=pa.int64()),
            pa.array(dist, type=pa.float64(), mask=z if z is not None and z.any() else None),
        ],
        names=["query_id", "neighbor_id", "dist"],
    )


def scan_topk(
    queries: DataFrame,
    corpus: DataFrame,
    who: str,
    scorer,
    top: int,
    id_col: str,
    data_col: str,
    groups=None,
    radius: float | None = None,
    sign: float = 1.0,
    data_dtype: str = "float64",
    extra: tuple = (),
) -> DataFrame:
    """The one Arrow scan-and-top-k kernel: (query_id, neighbor_id, dist)
    partial rows of ``queries`` against ``corpus``, for the `topk_agg`
    merge (top-k mode) or as the final relation (radius mode).

    The query batch is collected once (`collect_queries`) and broadcast
    with the candidate groups; the corpus streams ONCE through
    ``mapInArrow``, its vector (or code) column reshaped straight from the
    Arrow values buffer (`_arrow_vectors`), and every candidate group runs
    `topk_group` with ``scorer``. Forms differ only in those two inputs:

    * ``groups=None`` — the exact forms: every query scores every row.
    * ``groups(qids, Q) -> {column: {group value: query positions}}`` —
      rows are grouped by each column's value and scored against that
      value's queries (IVF/IVFPQ: ``partition_id`` -> probing queries;
      LSH: one ``bucket_t`` column per table). The scan is STATICALLY
      pruned to rows in some probed group (an ``IN`` filter pushed to the
      scan — stronger than a join's dynamic pruning).
    """
    qids, Q = collect_queries(queries, who)
    spark = corpus.sparkSession
    if len(qids) == 0:  # expression-path contract: empty in, empty out
        return spark.createDataFrame([], _PARTIAL_SCHEMA)
    maps = groups(qids, Q) if groups is not None else {}
    cols = list(maps)
    if cols:
        corpus = corpus.filter(
            functools.reduce(
                operator.or_,
                [F.col(c).isin([int(b) for b in maps[c]]) for c in cols],
            )
        )
    scan = corpus.select(
        *cols, F.col(id_col).alias("neighbor_id"), F.col(data_col).alias("_data")
    )
    # Real broadcast (one copy per executor), not closure capture (one copy
    # per task): at 10k queries x high dim the matrix is megabytes.
    bc = spark.sparkContext.broadcast((qids, Q, [maps[c] for c in cols], extra))

    def score(batches):
        qids_, Q_, maps_, extra_ = bc.value
        everyone = np.arange(len(qids_))
        for batch in batches:
            if batch.num_rows == 0:
                continue
            nids = _arrow_ids(batch, "neighbor_id")
            mat = _arrow_vectors(batch, "_data", dtype=data_dtype)
            if not maps_:
                found = [(None, everyone, slice(None))]
            else:
                found = _batch_groups(batch, cols, maps_)
            # yield per GROUP, not per input batch: each yielded batch
            # becomes ONE Arrow IPC batch on the Python->JVM wire, and an
            # unbucketed corpus relation can interleave hundreds of probed
            # buckets inside one input batch — concatenating them produced
            # single ~1 GB batches (queries x buckets x top rows) that
            # exhausted Arrow's direct-memory pool at 5M x 10k queries. A
            # per-group batch is bounded by queries_probing x top rows.
            # (Measured alternative, rejected: compacting to top-`top` per
            # (query, task) before emission cuts the wire volume ~3x under
            # widened probing but runs ~40% SLOWER end to end — the
            # task-end lexsort stalls the pipeline into the JVM partial
            # WindowGroupLimit, which absorbs the per-group volume while
            # the Python worker is still scoring.)
            for key, qsel, sel in found:
                out = topk_group(
                    qids_, Q_, qsel, nids[sel], mat[sel], scorer, top,
                    radius=radius, sign=sign, key=key, extra=extra_,
                )
                if out is not None:
                    yield out

    return scan.mapInArrow(score, _PARTIAL_SCHEMA)


def _batch_groups(batch, cols: list[str], maps: list[dict]):
    """(group value, query positions, row positions) for every probed group
    of an Arrow batch, per group column. A stable sort keeps intra-group
    row order (`topk_group` re-sorts by id anyway)."""
    for col, mp in zip(cols, maps):
        keys = _arrow_ids(batch, col)
        g_order = np.argsort(keys, kind="stable")
        g_keys = keys[g_order]
        bounds = np.flatnonzero(np.r_[True, g_keys[1:] != g_keys[:-1], True])
        for s0, s1 in zip(bounds[:-1], bounds[1:]):
            key = int(g_keys[s0])
            qsel = mp.get(key)
            if qsel is not None and len(qsel):
                yield key, qsel, g_order[s0:s1]


def _cogroup_topk(qtbl, q_vec: str, ctbl, c_vec: str, scorer, top: int, sign: float = 1.0):
    """`topk_group` over one cogrouped (query rows, corpus rows) pair — the
    shape of the kernels whose query side is too large to broadcast
    (knn_blockwise, the k-NN graph), so it arrives by shuffle. Vector
    columns become the scoring matrices by flat-buffer reshape."""
    import pyarrow as pa

    out = None
    if qtbl.num_rows and ctbl.num_rows:
        qb = qtbl.combine_chunks().to_batches()[0]
        cb = ctbl.combine_chunks().to_batches()[0]
        out = topk_group(
            _arrow_ids(qb, "query_id"),
            _arrow_vectors(qb, q_vec),
            np.arange(qb.num_rows),
            _arrow_ids(cb, "neighbor_id"),
            _arrow_vectors(cb, c_vec),
            scorer,
            top,
            sign=sign,
        )
    if out is None:
        return pa.schema(
            [("query_id", pa.int64()), ("neighbor_id", pa.int64()), ("dist", pa.float64())]
        ).empty_table()
    return pa.Table.from_batches([out])


def knn_scalable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    metric: Metric = "sqeuclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-out exact top-k: broadcast query matrix, per-batch local top-k
    SET (the reference's argpartition, cpu_search utils_grid_search.py:
    919-928, plus the deterministic id tie-break), then the global
    per-query merge of the k-sized partials — `scan_topk` with no
    candidate groups.

    At 100 TB the corpus scan is embarrassingly parallel, nothing shuffles
    except batches×queries×k partial rows, and the final merge is a
    per-query top-k over bounded partials. The query side is collected to
    the driver (`collect_queries`: bounded, raises past the cap); route
    corpus-sized query sets through knn_blockwise instead.
    """
    ip = metric == "inner_product"
    partials = scan_topk(
        queries, corpus, "knn_scalable", _metric_scorer(metric), k,
        id_col=id_col, data_col=vec_col, sign=-1.0 if ip else 1.0,
    )
    return topk_agg(partials, k, asc=not ip)


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
    cogrouped and answered with the shared per-group routine (`topk_group`,
    the same kernel as knn_scalable); `topk_agg` merges the k-sized partials.

    Shuffle volume: |queries| x n_corpus_blocks + |corpus| x n_query_blocks —
    the block counts trade replication against per-task matrix size. Use
    knn_scalable (broadcast) whenever the query matrix fits an executor; use
    this when it doesn't (e.g. 10M+ queries).
    """
    spark = queries.sparkSession
    ip = metric == "inner_product"
    scorer = _metric_scorer(metric)

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

    def block_topk(qtbl, ctbl):
        return _cogroup_topk(qtbl, "q_vec", ctbl, "c_vec", scorer, k, -1.0 if ip else 1.0)

    partials = (
        qrep.groupBy("qblock", "cblock")
        .cogroup(crep.groupBy("qblock", "cblock"))
        .applyInArrow(block_topk, schema=_PARTIAL_SCHEMA)
    )
    return topk_agg(partials, k, asc=not ip)
