"""LM perplexity scoring + DSIR importance resampling (operators/lmscore.py).

Planted-input value tests against a pure-Python twin; the DuckDB hash parity
for the registry queries (lm_perplexity, dsir_weights, dsir_resample) is
covered by scripts/check_correctness.py / the driver's gate.
"""

import math

import pyspark.sql.functions as F
import pytest

from filtered_ads_vector_search_spark.operators import lmscore as LM

from conftest import collect_released

pytestmark = pytest.mark.usefixtures("no_leaked_rdds")


CORPUS = [
    (0, "the cat sat on the mat", "en"),
    (1, "the cat sat", "en"),
    (2, "der hund lief im park herum", "de"),
    (3, "the dog ran in the park", "en"),
    (4, "zzz", "de"),  # single token: no bigrams, must drop from LM scoring
]


def _docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string, lang string")


def _py_counts():
    uni, big = {}, {}
    for _, text, _ in CORPUS:
        toks = text.lower().split()
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(toks, toks[1:]):
            big[f"{a} {b}"] = big.get(f"{a} {b}", 0) + 1
    return uni, big


def test_lm_perplexity_matches_python(spark):
    uni, big = _py_counts()
    v = len(uni)
    got = {r.doc_id: r for r in collect_released(LM.ngram_lm_perplexity(_docs(spark)))}
    assert set(got) == {0, 1, 2, 3}  # doc 4 has no bigrams
    for doc_id, text, _ in CORPUS[:4]:
        toks = text.lower().split()
        logps = [
            math.log((big[f"{a} {b}"] + 1.0) / (uni[a] + v))
            for a, b in zip(toks, toks[1:])
        ]
        avg_nll = -sum(logps) / len(logps)
        assert got[doc_id].n_bigrams == len(logps)
        assert got[doc_id].avg_nll == pytest.approx(round(avg_nll, 4), abs=1e-9)
        assert got[doc_id].ppl == pytest.approx(round(math.exp(avg_nll), 4), abs=1e-9)


def test_lm_perplexity_repeated_text_scores_lower(spark):
    """A document made of the corpus's most common bigram must get a lower
    avg_nll (higher LM probability) than a document of hapax bigrams."""
    rows = [(0, "a b a b a b a b", "en"), (1, "a b a b a b a b", "en"),
            (2, "q w e r t y u i", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r.avg_nll for r in collect_released(LM.ngram_lm_perplexity(df))}
    assert out[0] < out[2]


def test_dsir_weights_matches_python(spark):
    uni_docs = _docs(spark)
    out = {r.doc_id: r for r in LM.dsir_weights(uni_docs, target_lang="en").collect()}

    # pure-Python twin with the same portable md5 hash
    import hashlib

    B, a = LM.DSIR_BUCKETS, LM.DSIR_ALPHA
    feats = []  # (doc_id, lang, bucket)
    for doc_id, text, lang in CORPUS:
        toks = text.lower().split()
        for x, y in zip(toks, toks[1:]):
            h = int(hashlib.md5(f"{x} {y}".encode()).hexdigest()[:15], 16)
            feats.append((doc_id, lang, h % B))
    raw_tot = len(feats)
    tgt_tot = sum(1 for f in feats if f[1] == "en")
    raw, tgt = {}, {}
    for _, lang, bkt in feats:
        raw[bkt] = raw.get(bkt, 0) + 1
        if lang == "en":
            tgt[bkt] = tgt.get(bkt, 0) + 1
    lam = {
        bkt: math.log((tgt.get(bkt, 0) + a) / (tgt_tot + a * B))
        - math.log((raw[bkt] + a) / (raw_tot + a * B))
        for bkt in raw
    }
    for doc_id, text, lang in CORPUS:
        toks = text.lower().split()
        lams = []
        for x, y in zip(toks, toks[1:]):
            h = int(hashlib.md5(f"{x} {y}".encode()).hexdigest()[:15], 16)
            lams.append(lam[h % B])
        if not lams:
            assert doc_id not in out
            continue
        assert out[doc_id].n_feats == len(lams)
        assert out[doc_id].logweight == pytest.approx(round(sum(lams), 6), abs=1e-9)


def test_dsir_weights_favor_target_language(spark):
    """English docs must out-weigh the German doc under an English target
    slice (the whole point of the importance ratio)."""
    out = {r.doc_id: r.logweight_per_feat for r in
           LM.dsir_weights(_docs(spark), target_lang="en").collect()}
    assert out[0] > out[2] and out[3] > out[2]


def test_dsir_resample_is_seeded_and_partition_invariant(spark):
    docs = _docs(spark)
    a = LM.dsir_resample(docs, n_keep=3).collect()
    b = LM.dsir_resample(docs.repartition(7), n_keep=3).collect()
    assert [(r.rnk, r.doc_id) for r in a] == [(r.rnk, r.doc_id) for r in b]
    assert len(a) == 3 and [r.rnk for r in a] == [1, 2, 3]
