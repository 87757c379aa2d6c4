"""Exact k-NN properties — the Spark analogs of the reference's batch-size
invariance tests (reference: tests.py:7-62, 308-348)."""

from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.operators import filters as FL
from filtered_ads_vector_search_spark.operators import topk as TK

from conftest import SF_TEST

K = 10


def _emb(spark):
    return spark.read.parquet(f"{SF_TEST}/embeddings.parquet")


def _ids(df):
    return sorted((r.query_id, r.neighbor_id, r["rank"]) for r in df.collect())


def test_topk_agg_matches_window_form(spark):
    """topk_agg (the fused LSH tail) and the row_number window produce the
    same ranks under the same (dist, neighbor_id) tie-break, both
    directions, including duplicate distances."""
    import random

    rng = random.Random(99)
    rows = [
        (q, n, float(rng.choice([1.0, 2.0, 2.0, 3.0, rng.random()])))
        for q in range(6)
        for n in range(40)
    ]
    pairs = spark.createDataFrame(rows, "query_id long, neighbor_id long, dist double")
    from pyspark.sql import Window

    for asc in (True, False):
        got = _ids(TK.topk_agg(pairs, k=5, asc=asc, dedup=True))
        order = [F.col("dist").asc() if asc else F.col("dist").desc(), F.col("neighbor_id").asc()]
        w = Window.partitionBy("query_id").orderBy(*order)
        want = _ids(
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "neighbor_id", "rank", "dist")
        )
        assert got == want


def test_topk_agg_dedup_drops_duplicate_pairs(spark):
    pairs = spark.createDataFrame(
        [(1, 7, 0.5), (1, 7, 0.5), (1, 8, 0.4)],
        "query_id long, neighbor_id long, dist double",
    )
    out = TK.topk_agg(pairs, k=5, dedup=True).collect()
    assert sorted((r.neighbor_id, r["rank"]) for r in out) == [(7, 2), (8, 1)]


def test_scalable_matches_window(spark):
    """The mapInPandas local-top-k + merge form must produce exactly the same
    result set as the declarative window form (same ids and ranks)."""
    q, c = TK.split_queries(_emb(spark))
    a = _ids(TK.knn_window(q, c, k=K))
    b = _ids(TK.knn_scalable(q, c, k=K))
    assert a == b


def test_scalable_bitwise_equals_window_on_sq8(spark):
    """On int8-quantized vectors the two physical forms agree BIT-FOR-BIT on
    distances (not just on ids/ranks): every squared-diff sum is an exact
    integer <= dim * 254^2 << 2^53, so the HOF fold and numpy's
    ||q||^2 - 2qc + ||c||^2 decomposition both compute it exactly in
    float64. This is the equivalence the registry's knn_sq8 /
    knn_sq8_filtered_high rely on to run the scalable form against the
    window-form oracle SQL."""
    from filtered_ads_vector_search_spark.functions import vector as V

    emb = _emb(spark).withColumn(
        "embedding", V.sq8_quantize(F.col("embedding"), -3.0, 3.0)
    )
    q, c = TK.split_queries(emb)
    a = sorted(
        (r.query_id, r.neighbor_id, r["rank"], r.dist)
        for r in TK.knn_window(q, c, k=K).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, r["rank"], r.dist)
        for r in TK.knn_scalable(q, c, k=K).collect()
    )
    assert a == b  # exact equality including the float dist values


def test_cosine_window_prenorm_bitwise_stable(spark):
    """knn_window's cosine path hoists the norm folds below the join
    (vec_cosine_distance_prenorm); the distances must equal the inline
    three-fold form bit-for-bit."""
    from filtered_ads_vector_search_spark.functions import vector as V

    q, c = TK.split_queries(_emb(spark))
    got = sorted(
        (r.query_id, r.neighbor_id, r.dist)
        for r in TK.knn_window(q, c, k=K, metric="cosine").collect()
    )
    d = V.vec_cosine_distance(F.col("q_vec"), F.col("embedding"))
    want = sorted(
        (r.query_id, r.neighbor_id, r.dist)
        for r in TK.knn_window(q, c, k=K, distance=(d, True)).collect()
    )
    assert got == want


def test_partition_count_invariance(spark):
    """Result is identical under any repartitioning — the Spark analog of the
    reference's batch-size invariance (tests.py:7-62, std<1e-6)."""
    q, c = TK.split_queries(_emb(spark))
    base = _ids(TK.knn_scalable(q, c, k=K))
    for n in (1, 7):
        assert _ids(TK.knn_scalable(q, c.repartition(n), k=K)) == base


def test_filter_before_topk_subset(spark):
    """Filtered top-k must only contain rows passing the predicate, and a
    query's filtered result is NOT simply a filtered unfiltered result
    (filter-then-top-k vs top-k-then-filter — utils_grid_search.py:999-1002)."""
    q, c = TK.split_queries(_emb(spark))
    c_tagged = FL.with_rating_bucket(c)
    c_filtered = c_tagged.filter(FL.named_filter_predicate("high_rated"))
    res = TK.knn_window(q, c_filtered, k=K)
    passing = {
        r.vec_id for r in c_filtered.select("vec_id").collect()
    }
    got = res.collect()
    assert got, "filtered search returned nothing"
    assert all(r.neighbor_id in passing for r in got)
    # every query gets exactly k results when >= k rows pass
    n_pass = len(passing)
    assert n_pass >= K
    counts = {r.query_id: r["cnt"] for r in res.groupBy("query_id").agg(F.count("*").alias("cnt")).collect()}
    assert all(v == K for v in counts.values())


def test_high_selectivity_returns_fewer_than_k(spark):
    """mid_rated keeps ~0.77% of rows (< k at this SF): per-query results must
    shrink to the number of passing rows, never invent neighbors."""
    q, c = TK.split_queries(_emb(spark))
    c_f = FL.with_rating_bucket(c).filter(FL.named_filter_predicate("mid_rated"))
    n_pass = c_f.count()
    assert n_pass < K
    res = TK.knn_window(q, c_f, k=K)
    counts = [r["cnt"] for r in res.groupBy("query_id").agg(F.count("*").alias("cnt")).collect()]
    assert counts and all(c == n_pass for c in counts)


def test_metrics_agree_on_ordering(spark):
    """cosine top-1 of a query against itself-like vectors: sanity that each
    metric returns k rows with ranks 1..k."""
    q, c = TK.split_queries(_emb(spark))
    for metric in ("sqeuclidean", "inner_product", "cosine", "hamming"):
        res = TK.knn_window(q, c, k=3, metric=metric)
        per_q = res.groupBy("query_id").agg(
            F.count("*").alias("cnt"), F.max("rank").alias("mx")
        )
        rows = per_q.collect()
        assert all(r.cnt == 3 and r.mx == 3 for r in rows), metric


def test_blockwise_matches_window(spark):
    """Block-nested-loop cogrouped kNN (both-sides-huge physical form) must
    equal the declarative window form exactly."""
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    q, c = TK.split_queries(emb)
    a = _ids(TK.knn_window(q, c, k=7))
    b = _ids(TK.knn_blockwise(q, c, k=7, n_query_blocks=3, n_corpus_blocks=5))
    assert a == b
    # and invariant to the block-count choice
    b2 = _ids(TK.knn_blockwise(q, c, k=7, n_query_blocks=1, n_corpus_blocks=2))
    assert b2 == a


def test_scalable_tie_break_with_duplicate_vectors(spark):
    """Planted duplicate vectors create exact distance ties straddling the
    local top-k cut; the scalable and blockwise forms must still match the
    window form's deterministic (dist, neighbor_id) tie-break."""
    emb = _emb(spark)
    q, c = TK.split_queries(emb)
    # clone the corpus with shifted ids -> every vector has an exact twin
    twin = c.withColumn("vec_id", F.col("vec_id") + 10_000_000)
    c2 = c.unionByName(twin)
    a = _ids(TK.knn_window(q, c2, k=K))
    b = _ids(TK.knn_scalable(q, c2, k=K))
    d = _ids(TK.knn_blockwise(q, c2, k=K, n_query_blocks=2, n_corpus_blocks=3))
    assert a == b == d
    for n in (1, 5):
        assert _ids(TK.knn_scalable(q, c2.repartition(n), k=K)) == a


def test_scalable_query_broadcast_cap(spark, monkeypatch):
    """knn_scalable collects the query side to the driver; beyond the cap it
    must raise (pointing at knn_blockwise) instead of OOMing the driver."""
    import pytest

    monkeypatch.setattr(TK, "MAX_BROADCAST_QUERIES", 5)
    q, c = TK.split_queries(_emb(spark))
    big_q = c.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    with pytest.raises(ValueError, match="knn_blockwise"):
        TK.knn_scalable(big_q, c, k=3)
