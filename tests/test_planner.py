"""Tier planner (plan_filtered_search): selectivity-routed filtered search.

The planner formalizes the saturation rule — when adaptive probe widening
ceil(nprobe/s) would open every bucket, an exact scan of the filtered corpus
computes the same-or-better answer with strictly less machinery (measured at
5M x 64d: 4623 q/s exact vs 26-31 q/s saturated ADC, SCALE_BENCH_5M.json).
Reference analog: its brute-force CPU tier (utils_grid_search.py:919-928) vs
its prefiltered ANN runs, with tier choice left to the operator.
"""

import pytest
from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.operators import filters as FL
from filtered_ads_vector_search_spark.operators import topk as TK
from filtered_ads_vector_search_spark.operators.ann import (
    IVFIndex,
    plan_filtered_search,
)

from conftest import SF_TEST


@pytest.fixture(scope="module")
def qc(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    q, c = TK.split_queries(emb)
    return q, FL.with_rating_bucket(c)


@pytest.fixture(scope="module")
def ivf(qc):
    _, c = qc
    return IVFIndex.build_fixed(c, n_centroids=16)


def test_saturating_filter_routes_exact(qc, ivf):
    q, _ = qc
    # mid_rated keeps ~0.77% -> ceil(4/s) >> 16 buckets
    plan = plan_filtered_search(
        ivf, q, k=10, nprobe=4, predicate=FL.named_filter_predicate("mid_rated")
    )
    assert plan.tier == "exact_filtered"
    assert plan.nprobe_effective == ivf.n_centroids
    assert 0 < plan.selectivity < 0.25


def test_wide_filter_stays_on_ann_tier(qc, ivf):
    q, _ = qc
    # low_rated keeps ~83.6% -> ceil(4/0.836) = 5 < 16
    plan = plan_filtered_search(
        ivf, q, k=10, nprobe=4, predicate=FL.named_filter_predicate("low_rated")
    )
    assert plan.tier == "ann"
    assert plan.nprobe_effective == 5
    assert plan.selectivity > 0.5


def test_no_predicate_is_plain_ann(qc, ivf):
    q, _ = qc
    plan = plan_filtered_search(ivf, q, k=10, nprobe=4)
    assert plan.tier == "ann"
    assert plan.selectivity is None
    assert plan.nprobe_effective == 4
    base = ivf.search(q, k=10, nprobe=4)
    assert plan.result.collect() == base.collect()


def test_exact_tier_ids_equal_saturated_ann_tier(qc, ivf):
    """At saturation the ANN tier's candidate set IS the filtered corpus, so
    the two tiers must return identical (query_id, neighbor_id, rank) — the
    planner's routing changes cost, never the answer."""
    q, _ = qc
    pred = FL.named_filter_predicate("high_rated")
    plan = plan_filtered_search(ivf, q, k=10, nprobe=16, predicate=pred)
    assert plan.tier == "exact_filtered"  # ceil(16/0.156) >= 16
    saturated = ivf.search(q, k=10, nprobe=ivf.n_centroids, predicate=pred)
    key = lambda r: (r["query_id"], r["rank"])
    got = sorted(
        plan.result.select("query_id", "neighbor_id", "rank").collect(), key=key
    )
    want = sorted(
        saturated.select("query_id", "neighbor_id", "rank").collect(), key=key
    )
    assert got == want


def test_codes_only_layout_falls_back_to_full_probe_ann(spark, qc):
    """A codes-only IVFPQ layout cannot run the exact tier (no full-precision
    vectors); the planner must fall back to opening every bucket instead."""
    from filtered_ads_vector_search_spark.operators.ivfpq import IVFPQIndex

    q, c = qc
    idx = IVFPQIndex.build_fixed(
        c, n_centroids=8, m=4, n_codes=16, keep_vectors=False
    )
    plan = plan_filtered_search(
        idx, q, k=10, nprobe=4, predicate=FL.named_filter_predicate("mid_rated")
    )
    assert plan.tier == "ann"
    assert plan.nprobe_effective == idx.n_centroids
    assert plan.result.count() > 0


def test_pq_with_vectors_routes_exact_and_beats_adc_recall(qc):
    """With vectors kept, the exact tier must win (recall 1.0 vs lossy ADC)."""
    from filtered_ads_vector_search_spark.operators.ivfpq import IVFPQIndex
    from filtered_ads_vector_search_spark.operators.recall import recall_at_k

    q, c = qc
    idx = IVFPQIndex.build_fixed(c, n_centroids=8, m=4, n_codes=16)
    pred = FL.named_filter_predicate("premium_only")  # ~3.5% kept
    plan = plan_filtered_search(idx, q, k=10, nprobe=4, predicate=pred)
    assert plan.tier == "exact_filtered"
    truth = TK.knn_window(q, c.filter(pred), k=10, metric="sqeuclidean")
    r = recall_at_k(plan.result, truth, k=10).collect()[0]["recall_at_k"]
    assert r == pytest.approx(1.0)


def test_arrow_switch_means_the_same_for_both_families(qc, ivf):
    """``arrow`` is one on/off switch for either index family: True and its
    spelling "blas" run the family's Arrow form on the ann route (IVF
    DGEMM, IVFPQ ADC fold) and the same exact tier on the exact route,
    returning the arrow=False rows' ids and ranks. Any other value raises,
    on either route."""
    from filtered_ads_vector_search_spark.operators.ivfpq import IVFPQIndex

    q, c = qc
    pq = IVFPQIndex.build_fixed(c, n_centroids=8, m=4, n_codes=16)

    def ranked(plan):
        rows = plan.result.select("query_id", "neighbor_id", "rank").collect()
        return sorted(map(tuple, rows))

    try:
        for idx in (ivf, pq):
            for name, tier in (("low_rated", "ann"), ("mid_rated", "exact_filtered")):
                pred = FL.named_filter_predicate(name)
                off = plan_filtered_search(idx, q, k=10, nprobe=4, predicate=pred)
                assert off.tier == tier
                want = ranked(off)
                assert want
                for on in (True, "blas"):
                    plan = plan_filtered_search(
                        idx, q, k=10, nprobe=4, predicate=pred, arrow=on
                    )
                    assert plan.tier == tier, (type(idx).__name__, name, on)
                    assert ranked(plan) == want, (type(idx).__name__, name, on)
                for bad in ("nope", "exact", 1, None):
                    with pytest.raises(ValueError, match="arrow"):
                        plan_filtered_search(
                            idx, q, k=10, nprobe=4, predicate=pred, arrow=bad
                        )
        with pytest.raises(ValueError, match="arrow_adc"):
            pq.search(q, k=10, nprobe=4, arrow_adc="exact")
    finally:
        pq.unpersist()


# --- range planner (round 10): plan_filtered_range_search — the radius
# twin of the top-k planner, same saturation rule ---


def test_range_saturating_filter_routes_exact(qc, ivf):
    from filtered_ads_vector_search_spark.operators.ann import (
        plan_filtered_range_search,
    )

    q, c = qc
    pred = FL.named_filter_predicate("mid_rated")
    plan = plan_filtered_range_search(ivf, q, radius=1.55, nprobe=4, predicate=pred)
    assert plan.tier == "exact_filtered"
    assert plan.nprobe_effective == ivf.n_centroids
    # the exact tier's ball IS the filtered corpus's ball: equal to the
    # saturated probed tier's rows (routing changes cost, never the answer)
    saturated = ivf.range_search(
        q, radius=1.55, nprobe=ivf.n_centroids, predicate=pred
    )
    key = lambda r: (r["query_id"], r["neighbor_id"])
    got = sorted(
        (r["query_id"], r["neighbor_id"], round(r["dist"], 9))
        for r in plan.result.collect()
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], round(r["dist"], 9))
        for r in saturated.collect()
    )
    assert got == want and len(got) > 0


def test_range_wide_filter_stays_on_probed_tier(qc, ivf):
    from filtered_ads_vector_search_spark.operators.ann import (
        plan_filtered_range_search,
    )

    q, _ = qc
    plan = plan_filtered_range_search(
        ivf, q, radius=1.55, nprobe=4,
        predicate=FL.named_filter_predicate("low_rated"),
    )
    assert plan.tier == "ann"
    assert plan.nprobe_effective == 5  # ceil(4/0.836)
    assert plan.selectivity > 0.5
    # every returned neighbor satisfies the predicate and the radius
    rows = plan.result.collect()
    assert rows and all(r["dist"] <= 1.55 for r in rows)


def test_range_no_predicate_stays_on_probed_tier(qc, ivf):
    """Without a predicate the range planner runs the probed tier at the
    base nprobe: the same rows as ``IVFIndex.range_search``."""
    from filtered_ads_vector_search_spark.operators.ann import (
        plan_filtered_range_search,
    )

    q, _ = qc
    plan = plan_filtered_range_search(ivf, q, radius=1.55, nprobe=4)
    assert plan.tier == "ann" and plan.selectivity is None
    base = sorted(map(tuple, ivf.range_search(q, radius=1.55, nprobe=4).collect()))
    assert sorted(map(tuple, plan.result.collect())) == base and base


# --- planning state held by the index: one selectivity estimate per
# (index, predicate), and nothing cached once the index is unpersisted ---


def test_selectivity_is_estimated_once_per_index_and_predicate(qc, monkeypatch):
    """The planner, the range planner and adaptive_nprobe search (IVF and
    IVFPQ) share one memoized estimate per (index, predicate). A predicate
    keeping no row memoizes 0.0 rather than re-estimating; unpersist() drops
    the memo."""
    from filtered_ads_vector_search_spark.operators import ann as ANN
    from filtered_ads_vector_search_spark.operators.ann import (
        plan_filtered_range_search,
    )
    from filtered_ads_vector_search_spark.operators.ivfpq import IVFPQIndex

    q, c = qc
    estimated = []
    real = ANN._estimate_selectivity

    def counting(relation, predicate):
        estimated.append(str(predicate))
        return real(relation, predicate)

    monkeypatch.setattr(ANN, "_estimate_selectivity", counting)
    idx = IVFIndex.build_fixed(c, n_centroids=16)
    pq = IVFPQIndex.build_fixed(c, n_centroids=8, m=4, n_codes=16)
    try:
        nothing = F.col("rating_bucket") == F.lit("no-such-bucket")
        for _ in range(2):
            plan = plan_filtered_search(idx, q, k=10, nprobe=4, predicate=nothing)
            assert plan.tier == "exact_filtered" and plan.selectivity == 0.0
            assert plan.result.count() == 0
        assert len(estimated) == 1

        # every call below builds a fresh Column: the memo keys on the
        # predicate's expression, not on the object
        named = FL.named_filter_predicate
        s_low = plan_filtered_search(
            idx, q, k=10, nprobe=4, predicate=named("low_rated")
        ).selectivity
        s_high = plan_filtered_search(
            idx, q, k=10, nprobe=4, predicate=named("high_rated")
        ).selectivity
        assert len(estimated) == 3 and s_low != s_high

        ranged = plan_filtered_range_search(
            idx, q, radius=1.55, nprobe=4, predicate=named("low_rated")
        )
        assert ranged.selectivity == s_low
        idx.search(q, k=10, nprobe=4, predicate=named("high_rated"), adaptive_nprobe=True)
        assert len(estimated) == 3

        # each index holds its own memo
        plan = plan_filtered_search(pq, q, k=10, nprobe=4, predicate=named("low_rated"))
        assert plan.tier == "ann"
        pq.search(q, k=10, nprobe=4, predicate=named("low_rated"), adaptive_nprobe=True)
        assert len(estimated) == 4

        idx.unpersist()
        assert "_sel_memo" not in vars(idx)
        plan_filtered_search(idx, q, k=10, nprobe=4, predicate=named("low_rated"))
        assert len(estimated) == 5
    finally:
        idx.unpersist()
        pq.unpersist()


def test_plan_then_unpersist_leaves_no_persistent_rdds(spark, qc, tmp_path):
    """Build, plan both routes, consume the rows, unpersist: the persistent
    RDDs are back at their baseline, for a built index and for one loaded
    from its written layout (which persists the selectivity sample)."""
    q, c = qc
    jsc = spark.sparkContext._jsc

    def persistent():
        return set(jsc.getPersistentRDDs().keys())

    # earlier tests' unreleased materializations are garbage that the
    # context cleaner unpersists whenever a GC runs; reclaim them before
    # the baseline, so a GC during this test cannot shrink the set. The
    # cleaner works asynchronously, so one pass can leave some behind:
    # repeat until two passes in a row reclaim nothing
    import gc
    import time

    baseline = None
    for _ in range(10):
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(1)
        now = persistent()
        if now == baseline:
            break
        baseline = now
    built = IVFIndex.build(c, n_centroids=16, seed=42)
    path = str(tmp_path / "ivf")
    built.write_bucketed(path)
    loaded = IVFIndex.load(spark, path)
    for idx in (built, loaded):
        for name in ("low_rated", "mid_rated"):
            plan = plan_filtered_search(
                idx, q, k=10, nprobe=4,
                predicate=FL.named_filter_predicate(name), arrow="blas",
            )
            assert plan.result.count() > 0
    assert persistent() != baseline  # the live indexes hold their artifacts
    built.unpersist()
    loaded.unpersist()
    assert persistent() == baseline
