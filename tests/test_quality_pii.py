"""Round-4 operators: SemDeDup, Gopher quality rules, vocabulary stats, PII.

Planted-input property tests; the DuckDB hash parity for each registry query
is covered by scripts/check_correctness.py / the driver's gate.
"""

import pyspark.sql.functions as F
import pytest

from filtered_ads_vector_search_spark.functions import text as T
from filtered_ads_vector_search_spark.materialize import release
from filtered_ads_vector_search_spark.operators import dedup as DD
from filtered_ads_vector_search_spark.operators import quality as QL

from tests.conftest import SF_TEST, collect_released

pytestmark = pytest.mark.usefixtures("no_leaked_rdds")


# --- SemDeDup ---------------------------------------------------------------


def _emb(spark):
    return spark.read.parquet(f"{SF_TEST}/embeddings.parquet")


def test_semdedup_pairs_subset_of_brute_pairs(spark):
    """Cluster-bounding can only DROP pairs relative to brute force, and
    every surviving pair must carry the identical rounded distance."""
    emb = _emb(spark)
    sem = DD.semdedup_pairs(emb, n_clusters=8, max_cos_dist=0.7)
    brute = DD.embedding_dup_pairs(emb, max_cos_dist=0.7)
    sem_set = {(r.id_a, r.id_b, r.cos_dist) for r in collect_released(sem)}
    brute_set = {(r.id_a, r.id_b, r.cos_dist) for r in collect_released(brute)}
    assert sem_set, "threshold should yield pairs on the test corpus"
    assert sem_set <= brute_set


def test_semdedup_single_cluster_equals_brute(spark):
    """n_clusters=1 removes the cluster bound: identical to brute pairs."""
    emb = _emb(spark).limit(120)
    sem = DD.semdedup_pairs(emb, n_clusters=1, max_cos_dist=0.7)
    brute = DD.embedding_dup_pairs(emb, max_cos_dist=0.7)
    assert {(r.id_a, r.id_b) for r in collect_released(sem)} == {
        (r.id_a, r.id_b) for r in collect_released(brute)
    }


def test_semdedup_degenerate_cluster_guard_raises(spark):
    """A degenerate quantizer (here forced with n_clusters=1) must RAISE
    before launching the quadratic self-join once the largest cell exceeds
    max_cluster_rows — the all-near-identical-corpus failure mode."""
    emb = _emb(spark).limit(50)
    with pytest.raises(ValueError, match="degenerate clustering"):
        DD.semdedup_pairs(emb, n_clusters=1, max_cos_dist=0.7, max_cluster_rows=10)
    with pytest.raises(ValueError, match="degenerate clustering"):
        DD.semdedup_keep(emb, n_clusters=1, max_cos_dist=0.7, max_cluster_rows=10)


def test_semdedup_derived_n_clusters_and_shared_build(spark, monkeypatch):
    """n_clusters=None derives ceil(N/50k) (>=2); semdedup_keep runs exactly
    ONE IVFIndex.build_fixed."""
    from filtered_ads_vector_search_spark.operators import ann as ANN

    emb = _emb(spark).limit(80)
    calls = []
    orig = ANN.IVFIndex.build_fixed

    def counting(*args, **kwargs):
        calls.append(kwargs.get("n_centroids", args[1] if len(args) > 1 else None))
        return orig(*args, **kwargs)

    monkeypatch.setattr(ANN.IVFIndex, "build_fixed", staticmethod(counting))
    collect_released(DD.semdedup_keep(emb, n_clusters=None, max_cos_dist=0.7))
    assert calls == [2], calls  # 80 rows -> max(2, ceil(80/50k)) = 2, once


def test_semdedup_keep_no_remaining_intra_cluster_pair(spark):
    """Greedy keep rule fixpoint: among survivors there is NO intra-cluster
    pair within the threshold whose lower id is also kept (the lower-id
    witness would have dropped the higher one)."""
    emb = _emb(spark)
    kept = DD.semdedup_keep(emb, n_clusters=8, max_cos_dist=0.7)
    pairs = DD.semdedup_pairs(emb, n_clusters=8, max_cos_dist=0.7)
    kept_ids = {r.id for r in collect_released(kept)}
    assert kept_ids
    for r in collect_released(pairs):
        assert not (r.id_a in kept_ids and r.id_b in kept_ids), (
            r.id_a,
            r.id_b,
        )


# --- Gopher rules -----------------------------------------------------------


def test_gopher_rules_flags_planted_documents(spark):
    docs = spark.createDataFrame(
        [
            # 0: healthy — long enough, non-repetitive, stopwords present
            (0, "the and " + " ".join(f"word{i}" for i in range(60))),
            # 1: too short
            (1, "the tiny doc is here"),
            # 2: heavy bigram repetition (top-2-gram coverage ~ everything)
            (2, "spam ham " * 60),
            # 3: numeric soup — no alphabetic words, no stopwords
            (3, " ".join(str(n) for n in range(60))),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in QL.gopher_rules(docs).collect()}
    assert rows[0].keep
    assert not rows[1].ok_word_count and not rows[1].keep
    assert not rows[2].ok_top2gram and not rows[2].keep
    assert not rows[3].ok_alpha_words and not rows[3].ok_stopwords
    assert not rows[3].keep


def test_gopher_rules_mix_on_corpus(spark):
    """Thresholds must discriminate on the synthetic corpus — a gate that
    keeps or drops everything is miscalibrated."""
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    agg = QL.gopher_rules(docs).agg(
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert 0 < agg.kept < agg.n


# --- vocabulary stats -------------------------------------------------------


def test_vocab_top_terms_counts(spark):
    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "a c"), (2, "b")],
        "doc_id long, text string",
    )
    rows = QL.vocab_top_terms(docs, top_n=10).collect()
    by_term = {r.term: (r.term_freq, r.doc_freq, r.rnk) for r in rows}
    assert by_term["a"] == (3, 2, 1)
    assert by_term["b"] == (2, 2, 2)
    assert by_term["c"] == (1, 1, 3)


def test_vocab_summary_hapax(spark):
    docs = spark.createDataFrame(
        [(0, "x x y"), (1, "z")], "doc_id long, text string"
    )
    r = QL.vocab_summary(docs).first()
    assert r.n_tokens == 4 and r.n_types == 3 and r.hapax_types == 2
    assert r.type_token_ratio == pytest.approx(0.75)


# --- PII --------------------------------------------------------------------


PII_DOC = (
    "reach me at jane.doe+spam@mail.example.org or 212-555-0199, "
    "server 192.168.10.7, ssn 078-05-1120, plain words stay"
)


def test_pii_counts_planted(spark):
    df = spark.createDataFrame([(PII_DOC,), ("no pii here",)], "text string")
    out = df.select(
        *[T.pii_count(F.col("text"), k).alias(k) for k in T.PII_ORDER]
    ).collect()
    assert tuple(out[0]) == (1, 1, 1, 1)
    assert tuple(out[1]) == (0, 0, 0, 0)


def test_pii_redact_removes_all_matches(spark):
    df = spark.createDataFrame([(PII_DOC,)], "text string")
    red = df.select(T.pii_redact(F.col("text")).alias("r")).first().r
    assert "[PII]" in red
    assert "plain words stay" in red
    for leaked in ("jane.doe", "212-555", "192.168", "078-05"):
        assert leaked not in red
    again = (
        spark.createDataFrame([(red,)], "text string")
        .select(*[T.pii_count(F.col("text"), k).alias(k) for k in T.PII_ORDER])
        .first()
    )
    assert tuple(again) == (0, 0, 0, 0)


def test_pii_patterns_portable_to_duckdb(spark, duck):
    """Same match counts from Spark's Java regex and DuckDB's RE2 on a
    planted corpus — the patterns must stay inside the common subset."""
    cases = [PII_DOC, "no pii", "a@b.io x 1.2.3.4", "999-99-9999 555.123.4567"]
    sdf = spark.createDataFrame([(c,) for c in cases], "text string")
    srows = sorted(
        tuple(r)
        for r in sdf.select(
            *[T.pii_count(F.col("text"), k).alias(k) for k in T.PII_ORDER]
        ).collect()
    )
    sql_cols = ", ".join(
        f"CAST({T.pii_count_sql('t', k)} AS INTEGER)" for k in T.PII_ORDER
    )
    vals = ", ".join("('" + c.replace("'", "''") + "')" for c in cases)
    drows = sorted(
        tuple(r)
        for r in duck.sql(
            f"SELECT {sql_cols} FROM (VALUES {vals}) AS v(t)"
        ).fetchall()
    )
    assert srows == drows


# --- plan properties of the round-4 operators -------------------------------


def test_semdedup_no_cartesian_product(spark):
    """The cluster bound must surface as an equi-join on cluster_id — a
    CartesianProduct/BroadcastNestedLoop in the pair plan means the bound
    was lost and the operator degenerated to all-pairs."""
    from filtered_ads_vector_search_spark.plans import physical_plan

    emb = _emb(spark)
    pairs = DD.semdedup_pairs(emb, n_clusters=8, max_cos_dist=0.7)
    plan = physical_plan(pairs, "simple")
    release(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gopher_and_pii_stay_jvm_side(spark):
    """Quality rules and PII are scalar projections: no Python UDF (Arrow
    or row-wise) anywhere in their plans — the whole gate rides whole-stage
    codegen over the scan."""
    from filtered_ads_vector_search_spark.plans import physical_plan

    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    plans = [
        physical_plan(QL.gopher_rules(docs), "simple"),
        physical_plan(QL.vocab_top_terms(docs), "simple"),
        physical_plan(
            docs.select(T.pii_redact(F.col("text")).alias("r")), "simple"
        ),
    ]
    for plan in plans:
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_vocab_groupby_has_partial_aggregate(spark):
    """The vocabulary build must partial-aggregate map-side (the canonical
    word-count combine) — |vocab| rows shuffle, not |corpus| tokens."""
    from filtered_ads_vector_search_spark.plans import physical_plan

    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    plan = physical_plan(QL.vocab_top_terms(docs), "formatted")
    assert "partial_count" in plan or "Partial" in plan, plan[:2000]


# --- domain mixing + tokenizer fertility ------------------------------------


def test_domain_mix_weights_planted(spark):
    """Domain with 3x the token mass gets 1/3 the mix weight."""
    rows = [(0, "a b c d e f", "big"), (1, "g h i j k l", "big"),
            (2, "m n o p q r", "big"), (3, "s t u v w x", "small")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.lang: r for r in QL.domain_mix_weights(df).collect()}
    assert out["big"].n_tokens == 18 and out["small"].n_tokens == 6
    assert out["big"].token_share == 0.75 and out["small"].token_share == 0.25
    assert abs(out["big"].mix_weight * 3 - out["small"].mix_weight) < 1e-5


def test_token_fertility_planted(spark):
    """'abcd efgh' = 9 chars / 2 ws tokens -> 4.5 chars per token; the BPE
    pretokenizer splits punctuation off, raising bpe_per_ws_token above 1."""
    rows = [(0, "abcd efgh", "en"), (1, "hi! bye!", "de")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.lang: r for r in QL.token_fertility(df).collect()}
    assert out["en"].chars_per_ws_token == 4.5
    assert out["en"].bpe_per_ws_token == 1.0
    assert out["de"].bpe_per_ws_token > 1.0


def _semdedup_keep_reference(df, n_clusters, max_cos_dist):
    """The keep rule stated as pairs: every row of the shared cluster
    assignment whose id is not the higher id of a within-threshold pair."""
    assigned = DD._semdedup_assigned(df, n_clusters, "vec_id", "embedding", None)
    pairs = DD.semdedup_pairs(df, n_clusters=n_clusters, max_cos_dist=max_cos_dist)
    dropped = pairs.select(F.col("id_b").alias("id")).distinct()
    return assigned.select("id", "cluster_id").join(dropped, "id", "left_anti")


def test_semdedup_keep_arrow_kernel_matches_expression(spark):
    """The BLAS kernel's kept SET must equal the expression pairs'
    anti-join — the decision-identity contract (boundary-banded exact
    refine)."""
    emb = _emb(spark)
    ref = _semdedup_keep_reference(emb, 8, 0.7)
    arw = DD.semdedup_keep(emb, n_clusters=8, max_cos_dist=0.7)
    e = sorted((r.id, r.cluster_id) for r in collect_released(ref))
    a = sorted((r.id, r.cluster_id) for r in collect_released(arw))
    assert e and e == a


def test_semdedup_keep_arrow_kernel_sharded_matches_expression(spark, monkeypatch):
    """Forcing multi-shard cells (SEMDEDUP_SHARD_ROWS far below the cell
    sizes) must not change the kept SET: every shard task sees its target
    block plus ALL lower-id cell rows as sources, so the drop decision per
    id is identical to the single-task form and the pairs' anti-join."""
    emb = _emb(spark)
    ref = _semdedup_keep_reference(emb, 8, 0.7)
    e = sorted((r.id, r.cluster_id) for r in collect_released(ref))
    for shard_rows in (7, 64):
        monkeypatch.setattr(DD, "SEMDEDUP_SHARD_ROWS", shard_rows)
        arw = DD.semdedup_keep(emb, n_clusters=8, max_cos_dist=0.7)
        a = sorted((r.id, r.cluster_id) for r in collect_released(arw))
        assert e and e == a, shard_rows


def test_semdedup_keep_arrow_kernel_duplicates_and_zero_vectors(spark):
    """Planted exact duplicates drop their higher id; zero-norm vectors
    never pair (expression: nullif -> NULL) even when the threshold exceeds
    1.0 (the kernel's D=1.0 fast-path trap)."""
    rows = [
        (0, [1.0, 0.0]), (1, [1.0, 0.0]),        # exact dup pair
        (2, [0.0, 0.0]), (3, [0.0, 0.0]),        # zero vectors
        (4, [0.0, 1.0]), (5, [-1.0, 0.0]),       # orthogonal / opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for thr in (0.2, 1.0):
        e = sorted(
            r.id for r in collect_released(_semdedup_keep_reference(df, 2, thr))
        )
        a = sorted(
            r.id
            for r in collect_released(
                DD.semdedup_keep(df, n_clusters=2, max_cos_dist=thr)
            )
        )
        assert e == a, (thr, e, a)
        assert 1 not in a  # the higher id of the exact duplicate drops
        assert 2 in a and 3 in a  # zero vectors always survive
