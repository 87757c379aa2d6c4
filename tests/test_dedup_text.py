"""Dedup + text-analysis operator properties."""

import pytest
from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.functions import text as T
from filtered_ads_vector_search_spark.operators import dedup as DD

from conftest import SF_TEST, collect_released

pytestmark = pytest.mark.usefixtures("no_leaked_rdds")


def _docs(spark):
    return spark.read.parquet(f"{SF_TEST}/documents.parquet")


def test_exact_dedup_identifies_planted_duplicates(spark):
    docs = _docs(spark).limit(50)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionAll(dup)
    groups = DD.exact_dedup(both).collect()
    assert all(g.n_copies == 2 for g in groups)
    assert all(g.rep_doc_id < 100000 for g in groups)


def test_minhash_pairs_subset_of_exact_jaccard(spark):
    """Every LSH-verified pair must also be an exact-Jaccard pair (same
    threshold): LSH may MISS pairs (probabilistic recall) but never invents."""
    docs = _docs(spark)
    exact = {
        (r.doc_a, r.doc_b)
        for r in collect_released(DD.ngram_jaccard_pairs(docs, threshold=0.3))
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in collect_released(DD.minhash_pairs(docs, threshold=0.3))
    }
    assert lsh <= exact


def test_minhash_finds_planted_near_dupes(spark):
    """A doc with a few appended words is a near-dup; LSH must catch it."""
    docs = _docs(spark).limit(30)
    near = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xyzzy plugh")).alias("text"),
    )
    both = docs.select("doc_id", "text").unionAll(near)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in collect_released(DD.minhash_pairs(both, threshold=0.5))
    }
    planted = {(int(r.doc_id), int(r.doc_id) + 100000) for r in docs.select("doc_id").collect()}
    found_frac = len(pairs & planted) / len(planted)
    assert found_frac >= 0.9, f"LSH caught only {found_frac:.0%} of planted near-dups"


def test_simhash_identical_docs_collide(spark):
    docs = _docs(spark).limit(20).select("doc_id", "text")
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    pairs = collect_released(DD.simhash_pairs(docs.unionAll(dup), max_hamming=0))
    planted = {(int(r.doc_id), int(r.doc_id) + 100000) for r in docs.select("doc_id").collect()}
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert planted <= got


def test_lang_predict_accuracy(spark):
    """The marker-word heuristic should agree with the actual lang column on
    a decent fraction of synthetic docs (they're word-salad, so this is a
    plumbing test, not a model-quality test)."""
    docs = _docs(spark)
    rows = docs.select(
        "lang", T.lang_predict(F.col("text")).alias("pred")
    ).collect()
    assert all(r.pred in {"en", "es", "de", "fr", "zh", "und"} for r in rows)


def test_quality_score_bounds(spark):
    rows = _docs(spark).select(T.quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)


def test_token_count_matches_python(spark):
    rows = _docs(spark).limit(50).select("text", T.token_count(F.col("text")).alias("tc")).collect()
    for r in rows:
        assert r.tc == len(r.text.split())


def test_simhash_banded_equals_brute(spark):
    """Pigeonhole banding is EXACT: banded candidates + verify must equal the
    brute-force pairwise result."""
    docs = _docs(spark).limit(150)
    brute = sorted(map(tuple, collect_released(DD.simhash_pairs(docs, max_hamming=2))))
    banded = sorted(
        map(tuple, collect_released(DD.simhash_pairs_banded(docs, max_hamming=2)))
    )
    assert brute == banded and len(brute) > 0


def test_duplicate_components_transitive_closure(spark):
    """A~B, B~C must land A,B,C in ONE component (pairs alone would drop only
    one doc; the cluster drops two). Chain of length 4 exercises >1 label-
    propagation iteration; two disjoint pairs stay separate components."""
    from filtered_ads_vector_search_spark.operators.dedup import (
        canonical_docs,
        duplicate_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "doc_a long, doc_b long",
    )
    comp = {
        r["doc_id"]: r["component_id"]
        for r in collect_released(duplicate_components(pairs))
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    canon = {
        r["component_id"]: (r["n_members"], r["canonical_doc_id"])
        for r in collect_released(canonical_docs(duplicate_components(pairs)))
    }
    assert canon == {1: (4, 1), 10: (2, 10), 20: (2, 20)}


def test_duplicate_components_partition_invariance(spark):
    """Same components regardless of input partitioning (the engine's
    batch-size-invariance property applied to the iterative operator)."""
    from filtered_ads_vector_search_spark.operators.dedup import duplicate_components

    rows = [(i, i + 1) for i in range(0, 40, 2)] + [(5, 9), (9, 13)]
    base = spark.createDataFrame(rows, "doc_a long, doc_b long")
    a = {tuple(r) for r in collect_released(duplicate_components(base.repartition(1)))}
    b = {tuple(r) for r in collect_released(duplicate_components(base.repartition(7)))}
    assert a == b and len(a) > 0


def test_duplicate_components_star_partition_invariance(spark):
    """Star-shaped components (node 3 joined from both 2 and 5), a pair and a
    triangle: the labels are pinned, not only compared across partitionings."""
    from filtered_ads_vector_search_spark.operators.dedup import duplicate_components

    base = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 3), (20, 21), (21, 22), (22, 20)],
        "doc_a long, doc_b long",
    )
    for n in (1, 7):
        got = {
            tuple(r)
            for r in collect_released(duplicate_components(base.repartition(n)))
        }
        assert got == {
            (1, 1), (2, 1), (3, 1), (5, 1),
            (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20),
        }, n


def test_duplicate_components_raises_on_non_convergence(spark):
    """Labels are only the transitive closure at fixpoint: a chain longer
    than max_iter hops must raise, not silently return split components."""
    from filtered_ads_vector_search_spark.operators.dedup import duplicate_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_components(chain, max_iter=3)
    # with enough rounds the same chain converges to one component
    comp = collect_released(duplicate_components(chain, max_iter=20))
    assert {r["component_id"] for r in comp} == {0}


def test_decontamination_flags_planted_overlap(spark):
    """A training doc sharing a 5-gram with the eval set is flagged (and
    removed by decontaminate); unrelated docs survive."""
    from filtered_ads_vector_search_spark.operators.dedup import (
        contamination_flags,
        decontaminate,
    )

    leak = "the quick brown fox jumps over the lazy dog tonight"
    train = spark.createDataFrame(
        [
            (1, "completely unrelated words about tables and chairs here"),
            (2, "prefix text " + leak + " suffix text"),
            (3, "another clean document with different content entirely today"),
        ],
        "doc_id long, text string",
    )
    evald = spark.createDataFrame(
        [(100, "eval question: " + leak + " answer choice")],
        "doc_id long, text string",
    )
    flagged = {
        r["doc_id"]: r["n_shared"]
        for r in collect_released(contamination_flags(train, evald, n=5))
    }
    assert set(flagged) == {2} and flagged[2] >= 1
    kept = {r["doc_id"] for r in collect_released(decontaminate(train, evald, n=5))}
    assert kept == {1, 3}


def test_repetition_stats_flags_repeated_content(spark):
    """A doc that is one phrase repeated scores ~1+ on both fractions; a
    no-repeat doc scores 0 on dup_ngram_char_frac."""
    from filtered_ads_vector_search_spark.operators.dedup import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "buy cheap pills " * 10),              # heavy repetition
            (2, "one two three four five six seven"),  # no repeated 2-grams
            (3, "ab"),                                 # shorter than any n-gram
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert out[1]["dup_ngram_char_frac"] > 0.5
    assert out[1]["top_ngram_char_frac"] > 0.3
    assert out[2]["dup_ngram_char_frac"] == 0.0
    assert out[3]["top_ngram_char_frac"] == 0.0 and out[3]["dup_ngram_char_frac"] == 0.0


# --- ExactSubstr-style cross-doc duplicated substrings ----------------------


def test_substr_dup_stats_planted_shared_span(spark):
    """Two docs share an 8-token span inside otherwise-unique text; a third
    is fully unique. The shared span's windows (and only those) must count
    as duplicated, and covered tokens must union without double-counting."""
    from filtered_ads_vector_search_spark.operators.dedup import substr_dup_stats

    span = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (0, f"unique0 one two three {span} tail0 tailx"),
        (1, f"{span} other stuff here totally different ending"),
        (2, "completely unrelated text with no shared windows at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in substr_dup_stats(df, k=8).collect()}
    # only the single exact 8-token window of the span is shared
    assert out[0].n_dup_windows == 1 and out[1].n_dup_windows == 1
    assert out[2].n_dup_windows == 0 and out[2].dup_tokens == 0
    assert out[0].dup_tokens == 8 and out[1].dup_tokens == 8
    assert out[0].n_windows == out[0].n_tokens - 7
    assert out[1].dup_token_frac == round(8 / out[1].n_tokens, 6)


def test_substr_dup_stats_overlap_union(spark):
    """Two docs identical for 9 tokens -> two overlapping duplicated windows
    covering 9 distinct tokens (union, not 16)."""
    from filtered_ads_vector_search_spark.operators.dedup import substr_dup_stats

    shared = "a b c d e f g h i"  # 9 tokens -> windows at pos 0 and 1
    rows = [(0, f"{shared} xx yy"), (1, f"{shared} zz qq")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in substr_dup_stats(df, k=8).collect()}
    assert out[0].n_dup_windows == 2
    assert out[0].dup_tokens == 9


def test_substr_dedup_remove_keeps_canonical_occurrence(spark):
    """Removal step: the globally-first (doc_id, pos) occurrence of a
    duplicated span survives; every other occurrence is cut; untouched
    documents come back whitespace-normalized but otherwise intact."""
    from filtered_ads_vector_search_spark.operators.dedup import (
        substr_dedup_remove,
    )

    span = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (0, f"unique0 one two three {span} tail0 tailx"),
        (1, f"{span} other stuff here totally different ending"),
        (2, "completely unrelated text with no shared windows at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in substr_dedup_remove(df, k=8).collect()}
    # doc 0 holds the canonical occurrence (lowest doc_id): untouched
    assert out[0].text == rows[0][1] and out[0].n_removed_tokens == 0
    # doc 1's occurrence is cut (all 8 tokens), the rest survives in order
    assert out[1].text == "other stuff here totally different ending"
    assert out[1].n_removed_tokens == 8
    # unique doc untouched
    assert out[2].text == rows[2][1] and out[2].n_removed_tokens == 0
    # n_tokens reflects the ORIGINAL token count
    assert out[1].n_tokens == 8 + 6


def test_substr_dedup_remove_overlap_union_and_partition_invariance(spark):
    """Overlapping duplicated windows union their spans (9 tokens cut, not
    16), and the result is partition-count invariant (deterministic
    canonical rule)."""
    from filtered_ads_vector_search_spark.operators.dedup import (
        substr_dedup_remove,
    )

    shared = "a b c d e f g h i"  # 9 tokens -> overlapping windows 0 and 1
    rows = [(0, f"{shared} xx yy"), (1, f"{shared} zz qq")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in substr_dedup_remove(df, k=8).collect()}
    assert out[0].text == rows[0][1] and out[0].n_removed_tokens == 0
    assert out[1].text == "zz qq" and out[1].n_removed_tokens == 9
    again = {
        r.doc_id: r
        for r in substr_dedup_remove(df.repartition(7), k=8).collect()
    }
    assert {(r.doc_id, r.text, r.n_removed_tokens) for r in out.values()} == {
        (r.doc_id, r.text, r.n_removed_tokens) for r in again.values()
    }


def test_line_dedup_corpus_c4_rule(spark):
    """C4-style corpus-level line dedup: a line occurring >= min_occurrences
    times keeps only its globally-first occurrence (cross-doc AND within-doc
    boilerplate), whitespace-only lines are untouched structure, unique
    lines survive verbatim."""
    from filtered_ads_vector_search_spark.operators.dedup import (
        line_dedup_corpus,
    )

    boiler = "subscribe to our newsletter"
    rows = [
        (0, f"unique intro\n{boiler}\nsome real content"),
        (1, f"{boiler}\nother content\n\n{boiler}"),  # 2 copies + blank line
        (2, "totally unique document\nwith its own lines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup_corpus(df, min_occurrences=2).collect()}
    # doc 0 holds the canonical occurrence: untouched
    assert out[0].text == rows[0][1] and out[0].n_removed_lines == 0
    # doc 1 loses BOTH its copies; the empty line survives as structure
    assert out[1].text == "other content\n"
    assert out[1].n_removed_lines == 2 and out[1].n_lines == 4
    assert out[2].text == rows[2][1] and out[2].n_removed_lines == 0
    # threshold: at min_occurrences=4 nothing reaches the bar
    out3 = {r.doc_id: r.text for r in line_dedup_corpus(df, min_occurrences=4).collect()}
    assert out3 == {i: t for i, t in rows}


def test_line_dedup_regex_significant_separator(spark):
    """A regex-significant sep ('|') must split literally, not as the
    empty-match regex (which would explode one element per character)."""
    from filtered_ads_vector_search_spark.operators.dedup import (
        line_dedup_corpus,
    )

    rows = [(0, "keep this|shared seg|tail zero"), (1, "shared seg|other tail")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup_corpus(df, sep="|").collect()}
    assert out[0].text == rows[0][1] and out[0].n_lines == 3
    assert out[1].text == "other tail" and out[1].n_removed_lines == 1


def test_line_dedup_corpus_partition_invariance(spark):
    from filtered_ads_vector_search_spark.operators.dedup import (
        line_dedup_corpus,
    )

    rows = [(i, f"shared header line\nbody {i}\nshared footer line") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, line_dedup_corpus(df).collect()))
    b = sorted(map(tuple, line_dedup_corpus(df.repartition(7)).collect()))
    assert a == b
    by_id = {t[0]: t for t in a}
    assert by_id[0][1] == rows[0][1]  # canonical doc keeps both shared lines
    assert all(by_id[i][3] == 2 for i in range(1, 20))  # everyone else loses 2


# --- Bloom-prefiltered decontamination --------------------------------------


def test_bloom_decontaminate_equals_exact_even_with_forced_fps(spark):
    """m=64 forces massive Bloom false-positive rates; the exact join after
    the prefilter must still make the result identical to the exact form."""
    from filtered_ads_vector_search_spark.operators.dedup import (
        contamination_flags,
        contamination_flags_bloom,
    )

    rows = [(i, f"common preamble words shared {i} plus unique tail {i*7}") for i in range(20)]
    rows += [(100, "alpha beta gamma delta epsilon zeta eta theta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"), (1, "nothing matches here at all friends")],
        "doc_id long, text string",
    )
    exact = sorted(map(tuple, collect_released(contamination_flags(docs, ev, n=5))))
    # 64/8192: literal-array expression path; 200_000 (>1024 words): the
    # broadcast + Arrow-batched bit-test path — same result either way
    for m in (64, 8192, 200_000):
        bloom = sorted(
            map(tuple, collect_released(contamination_flags_bloom(docs, ev, n=5, m=m)))
        )
        assert bloom == exact, m
    assert exact and exact[0][0] == 100


def test_bloom_bitmap_bounded_and_deterministic(spark):
    from filtered_ads_vector_search_spark.operators.dedup import bloom_bitmap

    sh = spark.createDataFrame([(f"shingle {i}",) for i in range(500)], "sh string")
    a = bloom_bitmap(sh, m=256, kb=3)
    b = bloom_bitmap(sh.repartition(8), m=256, kb=3)
    assert a == b and len(a) == 4
