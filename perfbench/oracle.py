"""Engine-free output checks: NumPy exact filtered top-k and Parquet footers.

Nothing here imports the engine, so a bug in the engine cannot hide in the
oracle that checks it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

# relative tolerance for comparing a squared distance the engine computed
# (float64 fold or BLAS expansion over float32 inputs) with the oracle's
DIST_RTOL = 1e-6


def exact_topk(queries: np.ndarray, corpus: np.ndarray, k: int) -> np.ndarray:
    """Squared-L2 distance of each query's k-th nearest corpus row.

    Returns the (n_queries,) k-th distances; membership checks compare a
    returned neighbour's true distance against it, which makes them
    tie-aware (any row tied with the k-th is an equally right answer).
    """
    q = queries.astype(np.float64)
    c = corpus.astype(np.float64)
    cn = (c * c).sum(axis=1)
    kth = np.empty(len(q))
    for s in range(0, len(q), 256):
        qb = q[s : s + 256]
        d = (qb * qb).sum(axis=1)[:, None] + cn[None, :] - 2.0 * (qb @ c.T)
        kk = min(k, c.shape[0]) - 1
        kth[s : s + 256] = np.partition(d, kk, axis=1)[:, kk]
    return kth


def check_topk(
    query_ids: np.ndarray,
    neighbor_ids: np.ndarray,
    dists: np.ndarray,
    queries: np.ndarray,
    corpus: np.ndarray,
    allowed: np.ndarray,
    kth: np.ndarray,
    k: int,
) -> tuple[list[str], float]:
    """Check one batch's (query_id, neighbor_id, dist) rows.

    ``queries[i]`` is the vector of query id ``i``; ``allowed`` is the
    boolean filter mask over corpus rows (row index == vec_id). Returns the
    list of violated properties (empty when the batch is right) and the
    batch's tie-aware recall@k against ``kth``.
    """
    problems: list[str] = []
    n_q = len(queries)
    if len(query_ids) != n_q * k:
        problems.append(f"{len(query_ids)} rows, expected {n_q * k}")
    counts = np.bincount(query_ids, minlength=n_q) if len(query_ids) else np.zeros(n_q)
    if len(counts) != n_q or np.any(counts != k):
        problems.append("a query does not have exactly k rows")
        return problems, 0.0
    pairs = query_ids * (len(corpus) + 1) + neighbor_ids
    if len(np.unique(pairs)) != len(pairs):
        problems.append("duplicate neighbour for a query")
    if np.any((neighbor_ids < 0) | (neighbor_ids >= len(corpus))):
        problems.append("neighbour id outside the corpus")
        return problems, 0.0
    if not np.all(allowed[neighbor_ids]):
        problems.append("neighbour fails the filter predicate")
    diff = queries[query_ids].astype(np.float64) - corpus[neighbor_ids].astype(np.float64)
    true = (diff * diff).sum(axis=1)
    if not np.allclose(dists, true, rtol=DIST_RTOL, atol=1e-9):
        problems.append("returned distance differs from the true distance")
    hit = true <= kth[query_ids] * (1.0 + DIST_RTOL) + 1e-9
    recall = float(np.minimum(np.bincount(query_ids[hit], minlength=n_q), k).sum()) / (n_q * k)
    return problems, recall


def parquet_rows(path: str) -> int:
    """Row count of every Parquet file under ``path``, from the footers."""
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


def read_vectors(path: str, id_col: str, vec_col: str) -> np.ndarray:
    """Vectors of a written Parquet table as an (n, d) matrix ordered by id."""
    t = pq.read_table(path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_numpy()
    flat = t.column(vec_col).combine_chunks().flatten().to_numpy()
    mat = flat.reshape(len(ids), -1)
    out = np.empty_like(mat)
    out[ids] = mat
    return out
