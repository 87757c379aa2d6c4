"""Graph-traversal ANN search (operators/graph_search.py): beam search over
the corpus k-NN graph — exactness at full beam, hop monotonicity, entry
overrides, determinism, validation."""

import pytest
from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.operators import topk as TK
from filtered_ads_vector_search_spark.operators.graph_search import (
    fixed_entry_nodes,
    graph_search,
)
from filtered_ads_vector_search_spark.operators.knn_graph import (
    knn_graph_bucketed,
    knn_graph_window,
)

from conftest import SF_TEST, collect_released

pytestmark = pytest.mark.usefixtures("no_leaked_rdds")


def _split(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    return TK.split_queries(emb)


def test_graph_search_full_beam_exact_graph_equals_exact_knn(spark):
    """With the exact graph, a corpus-wide beam, and enough hops, the walk
    degenerates to exhaustive search: row-for-row equal to knn_window."""
    q, c = _split(spark)
    n = c.count()
    g = knn_graph_window(c, k=5)
    # enough hops to cover the graph diameter at this scale; beam >= corpus
    out = graph_search(g, c, q, k=5, beam=n, n_hops=8, n_entry=4)
    truth = TK.knn_window(q, c, k=5)
    got = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in collect_released(out)}
    want = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in truth.collect()}
    assert got == want


def test_graph_search_hop_monotonicity_and_shape(spark):
    """Recall vs exact truth never decreases with hops (the beam union keeps
    current members); every query returns exactly k rows ranked 1..k; hops=0
    searches only the scored entry set."""
    q, c = _split(spark)
    g = knn_graph_window(c, k=5)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in TK.knn_window(q, c, k=5).collect()
    }

    def recall(n_hops):
        out = graph_search(g, c, q, k=5, beam=16, n_hops=n_hops, n_entry=4)
        rows = collect_released(out)
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(r["rank"])
        # consecutive ranks from 1; exactly k once one hop has expanded the
        # candidate set past the n_entry=4 seeds
        for v in per_q.values():
            assert sorted(v) == list(range(1, len(v) + 1))
            if n_hops >= 1:
                assert len(v) == 5
        got = {(r["query_id"], r["neighbor_id"]) for r in rows}
        return len(got & truth) / len(truth)

    r0, r1, r6 = recall(0), recall(1), recall(6)
    assert r0 <= r1 <= r6
    assert r6 >= 0.6  # converged well past the broken-walk score (~k/n)
    # hops=0: results are a subset of the entry nodes
    ents = {r["node_id"] for r in fixed_entry_nodes(c, 4).collect()}
    out0 = graph_search(g, c, q, k=3, beam=4, n_hops=0, n_entry=4)
    assert {r["neighbor_id"] for r in collect_released(out0)} <= ents


def test_graph_search_trained_graph_and_entry_override(spark):
    """The trained bucketed graph serves the same traversal; a caller-built
    entries relation overrides the hash pick and changes only the seeding."""
    from filtered_ads_vector_search_spark.operators.ann import IVFIndex

    q, c = _split(spark)
    idx = IVFIndex.build(c, n_centroids=16, seed=42)
    g = knn_graph_bucketed(idx, k=5, nprobe=4, kernel="arrow")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in TK.knn_window(q, c, k=5).collect()
    }
    rows = collect_released(graph_search(g, c, q, k=5, beam=32, n_hops=6, n_entry=16))
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    assert len(got & truth) / len(truth) >= 0.6
    # determinism
    out2 = graph_search(g, c, q, k=5, beam=32, n_hops=6, n_entry=16)
    assert {tuple(r) for r in rows} == {tuple(r) for r in collect_released(out2)}
    # custom entries: seed at every query's exact nearest neighbor — recall
    # can only be >= the fixed-entry walk's on the same graph... the entry
    # relation is global (node_id only), so seed with the union of per-query
    # top-1 nodes
    top1 = (
        TK.knn_window(q, c, k=1)
        .select(F.col("neighbor_id").alias("node_id"))
        .distinct()
    )
    out3 = graph_search(g, c, q, k=5, beam=16, n_hops=1, entries=top1)
    got3 = {(r["query_id"], r["neighbor_id"]) for r in collect_released(out3)}
    # every query's own exact top-1 is among the seeds, is scored, and can
    # never be evicted from its top-k — it MUST appear in the results
    want1 = {
        (r["query_id"], r["neighbor_id"])
        for r in TK.knn_window(q, c, k=1).collect()
    }
    assert want1 <= got3
    idx.unpersist()


def test_graph_search_validation(spark):
    q, c = _split(spark)
    g = knn_graph_window(c, k=3)
    with pytest.raises(ValueError, match="beam"):
        graph_search(g, c, q, k=5, beam=4)
    with pytest.raises(ValueError, match="n_hops"):
        graph_search(g, c, q, k=2, beam=4, n_hops=-1)
    with pytest.raises(ValueError, match="n_entry"):
        graph_search(g, c, q, k=2, beam=4, n_entry=0)
    with pytest.raises(ValueError, match="k must"):
        graph_search(g, c, q, k=0, beam=4)
