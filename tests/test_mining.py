"""Embedding-pair mining (operators/mining.py): margin-based bitext mining
(Artetxe & Schwenk 2019 ratio margin, max retrieval) and DPR-style
hard-negative mining — semantics, hub demotion, kernel parity, validation."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.materialize import release
from filtered_ads_vector_search_spark.operators.mining import (
    mine_bitext,
    mine_hard_negatives,
)

from conftest import SF_TEST

pytestmark = pytest.mark.usefixtures("no_leaked_rdds")


def _df(spark, rows, start_id=0):
    return spark.createDataFrame(
        [(start_id + i, [float(x) for x in v]) for i, v in enumerate(rows)],
        "vec_id bigint, embedding array<float>",
    )


def test_bitext_planted_translation_wins(spark):
    """A planted near-identical cross-split pair is mined with the highest
    margin, beating a decoy that is merely close."""
    rng = np.random.RandomState(0)
    base = rng.randn(6, 8).astype("float32")
    src = _df(spark, base, start_id=0)
    # target 100 is (almost) source 2's translation; the rest are noise
    tgt_rows = list(rng.randn(5, 8).astype("float32"))
    tgt_rows.append(base[2] + 0.001 * rng.randn(8).astype("float32"))
    tgt = _df(spark, tgt_rows, start_id=100)
    out = {r["src_id"]: r for r in mine_bitext(src, tgt, k=3).collect()}
    assert len(out) == 6  # one best pair per source
    assert out[2]["tgt_id"] == 105
    # the planted pair is near-identical: cosine ~1 and margin > 1 (above
    # its neighborhood average). Margins of NOISE pairs are not globally
    # comparable on gaussian data (a near-zero avgk denominator can blow
    # up the ratio), so the claim is per-pair, not corpus-wide.
    assert out[2]["cos"] > 0.999
    assert out[2]["margin"] > 1.5


def test_bitext_margin_demotes_hubs(spark):
    """The margin penalty demotes a hub target that is moderately close to
    EVERYTHING: a slightly-less-cosine-close but non-hub target wins on
    margin where raw cosine would pick the hub."""
    d = 8
    # sources: orthogonal-ish directions
    src = _df(spark, [np.eye(d)[i] for i in range(3)], start_id=0)
    hub = np.ones(d) / np.sqrt(d)  # cos ~0.35 with every axis
    tgt_rows = [hub]
    # per-source dedicated targets, cos ~0.33 (slightly below the hub)
    for i in range(3):
        v = np.eye(d)[i] * 0.33 + np.sqrt(1 - 0.33**2) * np.eye(d)[(i + 4) % d]
        tgt_rows.append(v)
    tgt = _df(spark, tgt_rows, start_id=100)
    mined = {r["src_id"]: r["tgt_id"] for r in mine_bitext(src, tgt, k=4).collect()}
    # raw cosine top-1 for every source IS the hub (id 100); margin must
    # instead pair each source with its dedicated target for at least two
    # of the three sources (the hub can win at most one pairing)
    dedicated = sum(1 for s, t in mined.items() if t == 101 + s)
    assert dedicated >= 2, mined


def test_bitext_threshold_and_validation(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    from filtered_ads_vector_search_spark.operators.filters import is_query_col

    src = emb.filter(is_query_col(F.col("vec_id")))
    tgt = emb.filter(~is_query_col(F.col("vec_id")))
    full = mine_bitext(src, tgt, k=3).collect()
    thr = sorted(r["margin"] for r in full)[len(full) // 2]
    kept = mine_bitext(src, tgt, k=3, threshold=thr).collect()
    assert {r["src_id"] for r in kept} == {
        r["src_id"] for r in full if r["margin"] >= thr
    }
    with pytest.raises(ValueError, match="kernel"):
        mine_bitext(src, tgt, k=3, kernel="bogus")
    with pytest.raises(ValueError, match="k must be"):
        mine_bitext(src, tgt, k=0)


def test_bitext_scalable_kernel_matches_window(spark):
    """kernel='scalable' (broadcast-query Arrow scan) returns the same mined
    pairs and margins as the declarative window form."""
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    from filtered_ads_vector_search_spark.operators.filters import is_query_col

    src = emb.filter(is_query_col(F.col("vec_id")))
    tgt = emb.filter(~is_query_col(F.col("vec_id")))
    w = {(r["src_id"], r["tgt_id"], round(r["margin"], 9))
         for r in mine_bitext(src, tgt, k=4).collect()}
    s = {(r["src_id"], r["tgt_id"], round(r["margin"], 9))
         for r in mine_bitext(src, tgt, k=4, kernel="scalable").collect()}
    assert w == s


def test_hard_negatives_exclude_positives_and_rank(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    from filtered_ads_vector_search_spark.operators import topk as TK

    q, c = TK.split_queries(emb)
    pos = TK.knn_window(q, c, k=2, metric="cosine").select(
        "query_id", F.col("neighbor_id").alias("pos_id")
    )
    out = mine_hard_negatives(q, c, pos, k=4)
    rows = out.collect()
    pos_set = {(r["query_id"], r["pos_id"]) for r in pos.collect()}
    truth = TK.knn_window(q, c, k=6, metric="cosine").collect()
    # no mined negative is a positive
    assert all((r["query_id"], r["neighbor_id"]) not in pos_set for r in rows)
    # exactly k per query, ranks 1..k, and they are the nearest non-positives
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in per_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, 5))
        want = [
            t["neighbor_id"]
            for t in sorted(
                (t for t in truth if t["query_id"] == qid),
                key=lambda t: t["rank"],
            )
            if (qid, t["neighbor_id"]) not in pos_set
        ][:4]
        assert [r["neighbor_id"] for r in rs] == want, qid


def test_hard_negatives_max_positives_still_yield_k(spark):
    """The default fetch (k + max per-query positive count) is sufficient:
    a query whose positives are ALL inside the top of the ranking still
    keeps k negatives, and the re-rank preserves the raw retrieval order
    (dist ASC, neighbor_id ASC) of the survivors."""
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    from filtered_ads_vector_search_spark.operators import topk as TK

    q, c = TK.split_queries(emb)
    k = 3
    # worst case: every query's top-4 are gold positives
    pos = TK.knn_window(q, c, k=4, metric="cosine").select(
        "query_id", F.col("neighbor_id").alias("pos_id")
    )
    out = mine_hard_negatives(q, c, pos, k=k)
    per_q = {}
    for r in out.collect():
        per_q.setdefault(r["query_id"], []).append(r)
    truth = TK.knn_window(q, c, k=k + 4, metric="cosine").collect()
    pos_set = {(r["query_id"], r["pos_id"]) for r in pos.collect()}
    assert per_q, "no queries mined"
    for qid, rs in per_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, k + 1)), qid
        want = [
            t["neighbor_id"]
            for t in sorted(
                (t for t in truth if t["query_id"] == qid),
                key=lambda t: t["rank"],
            )
            if (qid, t["neighbor_id"]) not in pos_set
        ][:k]
        assert [r["neighbor_id"] for r in rs] == want, qid


def test_mining_ivf_kernel_overlap_and_shape(spark):
    """kernel='ivf' routes both mining operators through the probed IVF
    tier: same schema and per-query cardinality as the exact tier, and at
    a wide probe config (12/16) the approximate results overlap the exact
    tier far above the broken-probe score (~0)."""
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    from filtered_ads_vector_search_spark.operators import topk as TK

    q, c = TK.split_queries(emb)
    pos = TK.knn_window(q, c, k=1, metric="cosine").select(
        "query_id", F.col("neighbor_id").alias("pos_id")
    )
    exact = mine_hard_negatives(q, c, pos, k=5)
    ann = mine_hard_negatives(q, c, pos, k=5, kernel="ivf", nprobe=12, n_centroids=16)
    assert ann.columns == exact.columns
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a_rows = ann.collect()
    a = {(r["query_id"], r["neighbor_id"]) for r in a_rows}
    per_q = {}
    for r in a_rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())
    assert len(e & a) / len(e) >= 0.6

    src = q.withColumnRenamed("query_id", "vec_id").withColumnRenamed(
        "q_vec", "embedding"
    )
    bx = mine_bitext(src, c, k=4)
    bx_ann = mine_bitext(src, c, k=4, kernel="ivf", nprobe=12, n_centroids=16)
    assert bx_ann.columns == bx.columns
    pe = {(r["src_id"], r["tgt_id"]) for r in bx.collect()}
    pa = {(r["src_id"], r["tgt_id"]) for r in bx_ann.collect()}
    assert len(pe & pa) / len(pe) >= 0.8
    release(ann, bx_ann)
    # prebuilt-index handles: identical to the internally-built path
    from filtered_ads_vector_search_spark.operators.ann import IVFIndex
    from filtered_ads_vector_search_spark.operators.mining import _unit_norm

    idx = IVFIndex.build(
        _unit_norm(c.select("vec_id", "embedding"), "embedding"),
        n_centroids=16,
        metric="cosine",
    )
    ann2 = mine_hard_negatives(q, c, pos, k=5, kernel="ivf", nprobe=12, index=idx)
    assert {(r["query_id"], r["neighbor_id"], r["rank"]) for r in ann2.collect()} == {
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in a_rows
    }
    idx.unpersist()


def test_mine_bitext_ivf_jobs_carry_the_callers_job_group(spark):
    """kernel='ivf' builds and searches on the caller's thread, so every
    Spark job it launches carries the caller's job group: none lands among
    the jobs that have no group."""
    from filtered_ads_vector_search_spark.operators import topk as TK

    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    q, c = TK.split_queries(emb)
    src = q.withColumnRenamed("query_id", "vec_id").withColumnRenamed(
        "q_vec", "embedding"
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "mine-bitext-ivf"
    sc.setJobGroup(group, "mine_bitext kernel='ivf'")
    try:
        out = mine_bitext(src, c, k=4, kernel="ivf", nprobe=4, n_centroids=16)
        assert out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    release(out)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    assert tracker.getJobIdsForGroup(group)


def test_hard_negatives_fetch_validation(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    from filtered_ads_vector_search_spark.operators import topk as TK

    q, c = TK.split_queries(emb)
    pos = TK.knn_window(q, c, k=1, metric="cosine").select(
        "query_id", F.col("neighbor_id").alias("pos_id")
    )
    with pytest.raises(ValueError, match="fetch"):
        mine_hard_negatives(q, c, pos, k=5, fetch=3)
    with pytest.raises(ValueError, match="kernel"):
        mine_hard_negatives(q, c, pos, k=5, kernel="bogus")
