"""PageRank (operators/graph.py): numpy power-iteration parity, hub
dominance, partition invariance, dangling-mass conservation."""

import numpy as np
import pytest

from filtered_ads_vector_search_spark.operators.graph import pagerank

from conftest import collect_released

pytestmark = pytest.mark.usefixtures("no_leaked_rdds")


def _np_pagerank(n, edge_list, damping=0.85, n_iter=20, directed=False):
    A = np.zeros((n, n))
    for s, t in edge_list:
        A[s, t] = 1
        if not directed:
            A[t, s] = 1
    deg = A.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        inflow = np.zeros(n)
        for s in range(n):
            if deg[s]:
                inflow += A[s] * (r[s] / deg[s])
        dangling = r[deg == 0].sum() if directed else 0.0
        r = (1 - damping) / n + damping * (inflow + dangling / n)
    return r


STAR = [(0, 1), (0, 2), (0, 3), (0, 4)]  # hub 0
CHAIN_DIRECTED = [(0, 1), (1, 2), (2, 3)]  # 3 is dangling


def test_pagerank_matches_numpy_star(spark):
    df = spark.createDataFrame(STAR, "doc_a long, doc_b long")
    got = {r.node: r.rank for r in collect_released(pagerank(df))}
    want = _np_pagerank(5, STAR)
    for i in range(5):
        assert got[i] == pytest.approx(round(want[i], 6), abs=1e-9)
    # hub dominates, total mass conserved
    assert got[0] > max(got[i] for i in range(1, 5))
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)


def test_pagerank_directed_with_dangling_matches_numpy(spark):
    df = spark.createDataFrame(CHAIN_DIRECTED, "doc_a long, doc_b long")
    got = {r.node: r.rank for r in collect_released(pagerank(df, directed=True))}
    want = _np_pagerank(4, CHAIN_DIRECTED, directed=True)
    for i in range(4):
        assert got[i] == pytest.approx(round(want[i], 6), abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)


def test_pagerank_partition_invariant(spark):
    df = spark.createDataFrame(STAR * 2, "doc_a long, doc_b long")
    a = sorted(map(tuple, collect_released(pagerank(df.repartition(1), n_iter=8))))
    b = sorted(map(tuple, collect_released(pagerank(df.repartition(7), n_iter=8))))
    assert a == b
