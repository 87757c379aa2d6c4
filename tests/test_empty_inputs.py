"""Empty-input behavior across the round-4 operator families: empty frames
must produce empty (or well-defined) results, never AttributeError/
IndexError crashes — the defect class ADVICE flagged on stratified_sample."""

import pytest

from pyspark.sql import functions as F

from conftest import SF_SMOKE, collect_released

pytestmark = pytest.mark.usefixtures("no_leaked_rdds")


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string, lang string")


def _empty_emb(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<float>")


def test_lmscore_empty(spark):
    from filtered_ads_vector_search_spark.operators import lmscore as LM

    docs = _empty_docs(spark)
    assert collect_released(LM.ngram_lm_perplexity(docs)) == []
    assert collect_released(LM.dsir_weights(docs)) == []
    assert collect_released(LM.dsir_resample(docs, n_keep=5)) == []


def test_sketch_empty(spark):
    from filtered_ads_vector_search_spark.operators import sketch as SK

    docs = _empty_docs(spark)
    assert collect_released(SK.cms_build(docs)) == []
    assert collect_released(SK.cms_heavy_hitters(docs)) == []


def test_substr_and_decontaminate_empty(spark):
    from filtered_ads_vector_search_spark.operators import dedup as DD

    docs = _empty_docs(spark)
    assert collect_released(DD.substr_dup_stats(docs)) == []
    assert collect_released(DD.substr_dedup_remove(docs)) == []
    some = spark.createDataFrame([(1, "a b c d e f", "en")], "doc_id long, text string, lang string")
    # empty eval set: nothing is contaminated; empty training set: no rows
    assert collect_released(DD.contamination_flags(some, docs)) == []
    assert collect_released(DD.contamination_flags(docs, some)) == []
    assert collect_released(DD.contamination_flags_bloom(some, docs)) == []


def test_quality_empty(spark):
    from filtered_ads_vector_search_spark.operators import quality as QL

    docs = _empty_docs(spark)
    assert QL.domain_mix_weights(docs).count() == 0
    assert QL.token_fertility(docs).count() == 0


def test_hist_quantiles_empty_and_constant(spark):
    from filtered_ads_vector_search_spark.operators import evaluate as E

    empty = spark.createDataFrame([], "event_type string, value double")
    assert E.hist_quantiles(empty, "value").count() == 0
    # degenerate group: every value identical -> est == that value
    const = spark.createDataFrame(
        [("a", 3.5)] * 10, "event_type string, value double"
    )
    rows = E.hist_quantiles(const, "value").collect()
    assert rows and all(r.est == 3.5 for r in rows)


def test_projection_empty(spark):
    from filtered_ads_vector_search_spark.operators import projection as PJ

    emb = _empty_emb(spark)
    assert (
        emb.select(PJ.jl_project(F.col("embedding"), 8, 4).alias("p")).count() == 0
    )
    with pytest.raises(ValueError):
        PJ.pca_train(emb, out_dim=2)


def test_bm25_empty_queries_and_corpus(spark, tmp_path):
    from filtered_ads_vector_search_spark.operators import textsearch as TS

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "spark engine")], "doc_id long, text string"
    )
    empty_q = spark.createDataFrame([], "query_id int, query_text string")
    assert TS.bm25_search(docs, empty_q).count() == 0
    path = str(tmp_path / "ti")
    TS.write_term_index(docs, path, n_buckets=4)
    assert TS.bm25_search_index(spark, path, empty_q).count() == 0


def test_round6_new_surfaces_empty(spark):
    """Round-6 additions on empty inputs: the sharded driver returns an
    empty result for an empty query batch (via the kernels' empty-in
    empty-out contract), the fused encode emits an empty coded relation,
    and pca_train raises its documented empty-corpus error."""
    import numpy as np
    import pytest as _pytest

    from filtered_ads_vector_search_spark.operators import pq as PQ
    from filtered_ads_vector_search_spark.operators import projection as PJ
    from filtered_ads_vector_search_spark.operators.ann import (
        IVFIndex,
        search_sharded,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    idx = IVFIndex.build_fixed(emb, n_centroids=4)
    empty_q = spark.createDataFrame([], "query_id long, q_vec array<float>")
    assert (
        search_sharded(idx, empty_q, k=5, nprobe=2, arrow_score=True).count() == 0
    )
    idx.unpersist()

    books = PQ.fixed_codebooks(dim=64, m=4, n_codes=16)
    coded = PQ.pq_encode_with_codes_arrow(_empty_emb(spark), books, "embedding")
    assert coded.count() == 0
    assert coded.columns == ["vec_id", "embedding", "codes"]

    with _pytest.raises(ValueError, match="empty corpus"):
        PJ.pca_train(_empty_emb(spark), vec_col="embedding")


def test_mulaw_alaw_empty_signals():
    """Zero-length signals compand to zero-length codes and container
    roundtrips stay well-formed (0-frame, 0 ms)."""
    import numpy as np

    from filtered_ads_vector_search_spark.multimodal import codecs as C

    empty = np.array([], dtype=np.int16)
    assert C.mulaw_encode(empty).shape == (0,)
    assert C.alaw_encode(empty).shape == (0,)
    for enc in (C.encode_wav_mulaw, C.encode_wav_alaw, C.encode_wav):
        raw = enc(empty, sample_rate=8000)
        meta = C.decode_wav_meta(raw)
        assert meta["duration_ms"] == 0
        assert C.decode_wav_samples(raw).shape == (0,)
