"""Count-min sketch (operators/sketch.py): overestimate property, exactness
at collision-free width, bounded state, partition invariance."""

import pytest

from filtered_ads_vector_search_spark.operators import sketch as SK

from tests.conftest import SF_TEST, collect_released

pytestmark = pytest.mark.usefixtures("no_leaked_rdds")


def _docs(spark):
    return spark.read.parquet(f"{SF_TEST}/documents.parquet")


def test_cms_never_underestimates_under_forced_collisions(spark):
    """width=4 forces heavy collisions on the 31-term synthetic vocab; the
    min-over-depth estimate must still never undercount."""
    out = collect_released(SK.cms_heavy_hitters(_docs(spark), top_n=1000, depth=3, width=4))
    assert len(out) > 0
    assert all(r.est_count >= r.true_count for r in out)
    # with only 4 cells per row, SOME collision must have inflated an estimate
    assert any(r.est_count > r.true_count for r in out)


def test_cms_exact_at_collision_free_width(spark):
    """At the default 4x1024 grid the 31-term vocabulary is (statistically
    certainly) collision-free in at least one of the 4 rows per term, so
    every estimate equals the true count."""
    out = collect_released(SK.cms_heavy_hitters(_docs(spark), top_n=1000))
    assert all(r.est_count == r.true_count for r in out)


def test_cms_sketch_state_is_bounded(spark):
    sk = SK.cms_build(_docs(spark), depth=4, width=16)
    assert sk.count() <= 4 * 16


def test_cms_partition_invariance(spark):
    docs = _docs(spark)
    a = collect_released(SK.cms_heavy_hitters(docs.repartition(1), top_n=10))
    b = collect_released(SK.cms_heavy_hitters(docs.repartition(16), top_n=10))
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


# --- HyperLogLog ------------------------------------------------------------


def test_hll_estimate_accuracy_on_large_vocab(spark):
    """5000 distinct planted tokens, m=64 registers -> standard error
    ~1.04/sqrt(64) = 13%; assert within 3 sigma (40%)."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(i * 25, (i + 1) * 25)))
         for i in range(200)],
        "doc_id long, text string",
    )
    row = SK.hll_distinct(docs).collect()[0]
    assert row.n_exact == 5000
    assert abs(row.hll_estimate - 5000) / 5000 < 0.4, row


def test_hll_small_range_correction_and_invariance(spark):
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    a = SK.hll_distinct(docs.repartition(1)).collect()[0]
    b = SK.hll_distinct(docs.repartition(16)).collect()[0]
    assert (a.n_exact, a.hll_estimate) == (b.n_exact, b.hll_estimate)
    # 31-token vocab triggers linear counting; small-range estimates are tight
    assert abs(a.hll_estimate - a.n_exact) / a.n_exact < 0.25, a
