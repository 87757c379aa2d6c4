"""End-to-end curation job (pipeline/curate.py)."""

import json

from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.functions import hashing as H
from filtered_ads_vector_search_spark.pipeline.curate import curate_corpus

from tests.conftest import SF_TEST

# The funnels curate_corpus wrote for the two inputs below when every stage
# was counted by its own action; observed counts must reproduce them.
FUNNEL_WITH_EVAL = {
    "input_docs": 451, "after_quality_gate": 221, "after_exact_dedup": 221,
    "after_near_dedup": 213, "after_decontaminate": 210, "packed_rows": 210,
}
FUNNEL_WITH_DSIR = {
    "input_docs": 500, "after_quality_gate": 243, "after_exact_dedup": 243,
    "after_near_dedup": 232, "after_decontaminate": 232, "after_dsir_select": 50,
    "packed_rows": 50,
}
# Spark jobs of one ungated pass over the SF_TEST documents when each stage
# was counted and then computed again, and each components round ran a
# separate changed-label query.
COUNT_THEN_COMPUTE_JOBS = 61


def test_curate_corpus_funnel_and_determinism(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    gate = (H.portable_hash_col(F.col("doc_id"), 4242) % F.lit(100)) < F.lit(10)
    train, ev = docs.filter(~gate), docs.filter(gate)

    out1 = str(tmp_path / "run1")
    m1 = curate_corpus(spark, train, out1, eval_docs=ev)
    # the funnel only ever shrinks, and every stage is recorded
    order = [
        "input_docs", "after_quality_gate", "after_exact_dedup",
        "after_near_dedup", "after_decontaminate",
    ]
    vals = [m1[k] for k in order]
    assert vals == sorted(vals, reverse=True) and vals[-1] > 0
    assert m1["packed_rows"] == m1["after_decontaminate"]
    assert json.load(open(f"{out1}/metrics.json")) == m1
    assert m1 == FUNNEL_WITH_EVAL
    with open(f"{out1}/metrics.json") as fh:
        assert fh.read() == json.dumps(FUNNEL_WITH_EVAL, indent=1, sort_keys=True)

    surv1 = {r.doc_id for r in spark.read.parquet(f"{out1}/documents.parquet").collect()}
    out2 = str(tmp_path / "run2")
    m2 = curate_corpus(spark, train.repartition(13), out2, eval_docs=ev)
    surv2 = {r.doc_id for r in spark.read.parquet(f"{out2}/documents.parquet").collect()}
    assert m1 == m2 and surv1 == surv2


def test_curate_with_dsir_selection(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    out = str(tmp_path / "dsir_run")
    m = curate_corpus(spark, docs, out, dsir_keep=50, dsir_target_lang="en")
    assert m == FUNNEL_WITH_DSIR
    assert m["packed_rows"] == 50
    surv = spark.read.parquet(f"{out}/documents.parquet")
    assert surv.count() == 50
    # selection leans toward the target slice: majority of kept docs are en
    kept_lang = surv.join(docs.select("doc_id", "lang"), "doc_id")
    n_en = kept_lang.filter(F.col("lang") == "en").count()
    assert n_en > 25, n_en


def test_curate_corpus_releases_what_it_materialized(spark, tmp_path):
    """Every intermediate the funnel materializes — its own and the
    operators' (signature table, component labels, eval shingles) — is
    released before curate_corpus returns."""
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    rdds, cached = set(sc._jsc.getPersistentRDDs().keySet()), cache.cachedData().size()
    curate_corpus(spark, docs, str(tmp_path / "out"), gopher=False, min_quality=0)
    assert set(sc._jsc.getPersistentRDDs().keySet()) - rdds == set()
    assert cache.cachedData().size() == cached


def test_curate_corpus_launches_at_most_half_the_count_then_compute_jobs(
    spark, tmp_path
):
    """Every funnel count is an observe() on the materialization or write the
    next stage reads anyway, and each components round is one
    materialization with its changed-label count observed in the same pass:
    one pass needs at most half the jobs of counting every stage and then
    computing it again."""
    sc = spark.sparkContext
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    group = "curate-job-bound"
    sc.setJobGroup(group, "one curate_corpus pass")
    try:
        curate_corpus(spark, docs, str(tmp_path / "out"), gopher=False, min_quality=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= COUNT_THEN_COMPUTE_JOBS // 2, n_jobs
