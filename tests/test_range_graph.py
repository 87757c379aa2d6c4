"""Range (radius) search + k-NN graph properties.

Range search is the FAISS ``range_search`` sibling of the reference's top-k
surface (cpu_search utils_grid_search.py:890-951 is top-k only); the k-NN
graph is the corpus self-join form (CAGRA's own index structure,
utils_grid_search.py:586-611). Both ride the established kernels, so the
tests pin: window==scalable kernel parity, IVF-probed ⊆ exact with
exactness at full probing, radius/top-k consistency, filter semantics,
graph self-exclusion + bucketed-graph recall, and empty/edge inputs.
"""

import pytest
from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.operators import filters as FL
from filtered_ads_vector_search_spark.operators import topk as TK
from filtered_ads_vector_search_spark.operators.ann import IVFIndex
from filtered_ads_vector_search_spark.operators.knn_graph import (
    knn_graph_bucketed,
    knn_graph_window,
)
from filtered_ads_vector_search_spark.operators.range_search import (
    range_count,
    range_scalable,
    range_window,
)

from conftest import SF_TEST

RADIUS = 1.55


def _split(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    return TK.split_queries(emb)


def _as_set(df, cols=("query_id", "neighbor_id")):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_range_window_matches_scalable(spark):
    """Declarative and Arrow-kernel forms return the same (query, neighbor)
    set, and distances agree to float tolerance."""
    q, c = _split(spark)
    w = range_window(q, c, radius=RADIUS).collect()
    s = range_scalable(q, c, radius=RADIUS).collect()
    assert {(r.query_id, r.neighbor_id) for r in w} == {
        (r.query_id, r.neighbor_id) for r in s
    }
    wd = {(r.query_id, r.neighbor_id): r.dist for r in w}
    for r in s:
        assert abs(wd[(r.query_id, r.neighbor_id)] - r.dist) < 1e-9
    assert len(w) > 0  # radius chosen to be non-trivial at test SF


def test_range_results_all_within_radius(spark):
    q, c = _split(spark)
    rows = range_window(q, c, radius=RADIUS).collect()
    assert all(r.dist <= RADIUS for r in rows)


def test_range_consistent_with_topk(spark):
    """Every top-k neighbor with dist <= radius must appear in the range
    result, and the range result restricted to k-nearest must equal them."""
    q, c = _split(spark)
    topk = TK.knn_window(q, c, k=10).filter(F.col("dist") <= RADIUS)
    rng = _as_set(range_window(q, c, radius=RADIUS))
    for r in topk.collect():
        assert (r.query_id, r.neighbor_id) in rng


def test_range_filter_prefilter_equals_postfilter(spark):
    """Radius matches are per-row facts, so corpus pre-filter == result
    post-filter (unlike top-k, where order matters)."""
    q, c = _split(spark)
    cb = FL.with_rating_bucket(c)
    pred = FL.named_filter_predicate("high_rated")
    pre = _as_set(range_window(q, cb.filter(pred), radius=RADIUS))
    keep = {
        r.vec_id for r in cb.filter(pred).select("vec_id").collect()
    }
    post = {
        (qid, nid)
        for (qid, nid) in _as_set(range_window(q, cb, radius=RADIUS))
        if nid in keep
    }
    assert pre == post


def test_range_ivf_subset_and_exact_at_full_probe(spark):
    q, c = _split(spark)
    idx = IVFIndex.build_fixed(c, n_centroids=8)
    exact = _as_set(range_window(q, c, radius=RADIUS))
    probed = _as_set(idx.range_search(q, radius=RADIUS, nprobe=2))
    assert probed <= exact
    full = _as_set(idx.range_search(q, radius=RADIUS, nprobe=8))
    assert full == exact


def test_range_count_includes_empty_balls(spark):
    q, c = _split(spark)
    tiny = 0.5  # below the min pairwise distance — every ball empty
    counts = range_count(q, range_scalable(q, c, radius=tiny)).collect()
    assert len(counts) == q.count()
    assert all(r.n_in_range == 0 for r in counts)


def test_range_scalable_rejects_corpus_sized_queries(spark, monkeypatch):
    import filtered_ads_vector_search_spark.operators.range_search as RS

    q, c = _split(spark)
    monkeypatch.setattr(TK, "MAX_BROADCAST_QUERIES", 2)
    with pytest.raises(ValueError, match="broadcasts the query matrix"):
        RS.range_scalable(q, c, radius=RADIUS)


def test_range_empty_query_side(spark):
    q, c = _split(spark)
    empty = q.filter(F.lit(False))
    out = range_scalable(empty, c, radius=RADIUS)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "dist"]


def test_graph_no_self_edges_and_k_rows(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    g = knn_graph_window(emb, k=5)
    rows = g.collect()
    n = emb.count()
    assert len(rows) == n * 5
    assert all(r.src_id != r.neighbor_id for r in rows)
    # ranks are 1..5 per src
    per = {}
    for r in rows:
        per.setdefault(r.src_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per.values())


def test_graph_bucketed_full_probe_equals_exact(spark):
    """nprobe == n_centroids makes the bucketed candidate set complete, so
    the bucketed graph must equal the exact graph row-for-row."""
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    idx = IVFIndex.build_fixed(emb, n_centroids=8)
    exact = {
        (r.src_id, r.neighbor_id, r.rank)
        for r in knn_graph_window(emb, k=5).collect()
    }
    full = {
        (r.src_id, r.neighbor_id, r.rank)
        for r in knn_graph_bucketed(idx, k=5, nprobe=8).collect()
    }
    assert full == exact


def test_graph_bucketed_recall_floor(spark):
    """Partial probing keeps useful recall (same geometry as IVF search):
    at nprobe=4/16 TRAINED buckets the bucketed graph recovers most true
    edges (the fixed random-pivot quantizer sits near 0.49 on this data —
    quality comes from training, exactly as in query-batch search)."""
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    idx = IVFIndex.build(emb, n_centroids=16, seed=42)
    exact = {
        (r.src_id, r.neighbor_id) for r in knn_graph_window(emb, k=5).collect()
    }
    approx = {
        (r.src_id, r.neighbor_id)
        for r in knn_graph_bucketed(idx, k=5, nprobe=4).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, recall


def test_graph_arrow_kernel_matches_expr(spark):
    """The cogrouped Arrow kernel returns the same ranked rows as the
    expression path at both partial and full probing (the knn_scalable
    contract: last-ulps distances, identical (dist, id)-tie-broken ranks)."""
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    idx = IVFIndex.build_fixed(emb, n_centroids=8)
    for np_ in (2, 8):
        expr = {
            (r.src_id, r.neighbor_id, r.rank)
            for r in knn_graph_bucketed(idx, k=5, nprobe=np_).collect()
        }
        arrow = {
            (r.src_id, r.neighbor_id, r.rank)
            for r in knn_graph_bucketed(idx, k=5, nprobe=np_, kernel="arrow").collect()
        }
        assert arrow == expr, f"nprobe={np_}"


def test_graph_kernel_validation(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    idx = IVFIndex.build_fixed(emb, n_centroids=8)
    with pytest.raises(ValueError, match="kernel must be"):
        knn_graph_bucketed(idx, k=5, nprobe=2, kernel="bogus")


def test_graph_bucketed_symmetric_edge_sanity(spark):
    """Nearest-neighbor edges found by the bucketed graph carry the same
    distance in both directions when both are present (metric symmetry)."""
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    idx = IVFIndex.build_fixed(emb, n_centroids=8)
    g = knn_graph_bucketed(idx, k=5, nprobe=8)
    d = {(r.src_id, r.neighbor_id): r.dist for r in g.collect()}
    both = [(a, b) for (a, b) in d if (b, a) in d]
    assert both, "expected at least one mutual edge"
    for a, b in both:
        assert abs(d[(a, b)] - d[(b, a)]) < 1e-9
