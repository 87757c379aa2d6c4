"""Deduplication operators for training-data pipelines.

Not present in the reference (its corpus is pre-deduplicated Amazon reviews) —
these are the standard large-corpus dedup tiers, each designed scale-first:

* exact            — md5 content hash, one groupBy (map-side combinable).
* ngram-jaccard    — exact pairwise Jaccard on word-shingle sets; quadratic,
                     oracle-tier only (the scale path is MinHash below).
* MinHash + LSH    — shingle -> 16 portable min-hashes -> 4 bands; candidate
                     pairs come from an equi-join on band keys (shuffle on
                     band_key, NOT a crossJoin), then exact-Jaccard verify.
* SimHash          — 16-bit token-hash signature; near-dup = small signature
                     hamming distance; scale path = pigeonhole banding
                     (h+1 disjoint bit bands, equi-join per band — exact).
* embedding cosine — near-dup by vector similarity (brute pairs at test SF;
                     the IVF/LSH ANN tier is the scale path).

All hashing goes through functions.hashing so every operator here has an
exactly matching DuckDB oracle (the *_sql builders).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    P,
    portable_hash_col,
    portable_hash_sql,
    str_hash_col,
    str_hash_sql,
)
from ..functions.text import (
    token_count,
    token_count_sql,
    tokens,
    tokens_sql,
    word_ngrams,
    word_ngrams_sql,
    word_shingles,
    word_shingles_sql,
)
from ..functions import vector as V
from ..materialize import materialize, release

__all__ = [
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_signature_col",
    "minhash_pairs",
    "simhash_col",
    "simhash_pairs",
    "simhash_pairs_banded",
    "simhash_pairs_banded_sql",
    "embedding_dup_pairs",
    "embedding_dup_pairs_lsh",
    "semdedup_pairs",
    "semdedup_keep",
    "semdedup_pairs_sql",
    "semdedup_keep_sql",
    "duplicate_components",
    "duplicate_components_sql",
    "canonical_docs",
    "minhash_constants",
    "exact_dedup_sql",
    "ngram_jaccard_pairs_sql",
    "minhash_pairs_sql",
    "simhash_sql",
]

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS


def minhash_constants() -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the i-th min-hash permutation
    h_i(x) = ((x % P) * a_i + b_i) % P. Derived arithmetically so the DuckDB
    oracle regenerates them from the same formula."""
    out = []
    for i in range(N_HASHES):
        a = (2654435761 * (i + 1) + 99991) % P
        b = (179426549 * (i + 1) + 7919) % P
        out.append((a if a > 0 else 1, b))
    return out


# --- exact ------------------------------------------------------------------


def exact_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash: one shuffle on the hash.
    Returns (content_hash, rep_doc_id, n_copies)."""
    return (
        documents.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup_sql(table: str = "documents") -> str:
    return (
        f"SELECT md5(text) AS content_hash, min(doc_id) AS rep_doc_id, "
        f"count(*) AS n_copies FROM {table} GROUP BY md5(text)"
    )


# --- n-gram Jaccard (exact, quadratic — oracle tier) ------------------------


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """All doc pairs (a<b) with word-shingle Jaccard >= threshold.
    Exact and quadratic: use only at oracle scale; MinHash is the scale path."""
    sh = documents.select(
        F.col("doc_id"), word_shingles(F.col(text_col), n).alias("shingles")
    ).filter(F.size("shingles") > 0)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("double")
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs_sql(
    table: str = "documents", threshold: float = 0.5, n: int = 3
) -> str:
    sh = word_shingles_sql("text", n)
    return f"""
WITH sh AS (
  SELECT doc_id, {sh} AS shingles FROM {table}
), nz AS (
  SELECT * FROM sh WHERE len(shingles) > 0
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE), 4) AS jaccard
FROM nz a, nz b
WHERE a.doc_id < b.doc_id
  AND round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE), 4) >= {threshold}
"""


# --- MinHash + LSH ----------------------------------------------------------


def minhash_signature_from_shingles(shingles: Column) -> Column:
    """ARRAY<BIGINT> of N_HASHES min-hash values from a shingle array.

    Single-pass fold: the (md5-based) shingle hash is computed exactly once
    per shingle — the fold carries all N_HASHES running minima and updates
    them per shingle via zip_with against a literal (a,b) constant table.
    (A naive ``array(*[array_min(transform(...)) ...])`` duplicates the md5
    subtree N_HASHES times in one projection — 16x the per-row cost.)
    """
    consts = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in minhash_constants()
        ]
    )
    hashes = F.transform(shingles, lambda s: str_hash_col(s) % F.lit(P))
    init = F.array_repeat(F.lit(P).cast("bigint"), N_HASHES)
    return F.aggregate(
        hashes,
        init,
        lambda acc, x: F.zip_with(
            acc, consts, lambda m, c: F.least(m, (x * c["a"] + c["b"]) % F.lit(P))
        ),
    )


def minhash_signature_col(text: Column, n: int = 3) -> Column:
    """ARRAY<BIGINT> of N_HASHES min-hash values over distinct word shingles."""
    return minhash_signature_from_shingles(word_shingles(text, n))


def minhash_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Scale-path near-dup: LSH banding -> candidate pairs -> exact-Jaccard
    verify. The only shuffles are (a) explode+groupBy on band keys and (b) the
    candidate equi-join — no crossJoin anywhere.

    Returns (doc_a, doc_b, jaccard) with verified jaccard >= threshold; at a
    shingle level this matches ngram_jaccard_pairs whenever LSH recall
    captures the pair (probabilistic containment, tested as a property)."""
    shingled = documents.select(
        F.col("doc_id"), word_shingles(F.col(text_col), n).alias("shingles")
    ).filter(F.size("shingles") > 0)
    # Separate projection: `shingles` is referenced twice below (output +
    # signature input), which keeps CollapseProject from re-inlining the
    # shingle construction into both uses. Materialized because the plan
    # reads this relation three times (bands + both verify sides): the
    # signature table of the dedup pipeline.
    sh = materialize(
        shingled.select(
            "doc_id",
            "shingles",
            minhash_signature_from_shingles(F.col("shingles")).alias("sig"),
        )
    )

    bands = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(bi),
                        *[
                            F.col("sig")[bi * ROWS_PER_BAND + r]
                            for r in range(ROWS_PER_BAND)
                        ],
                    )
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("band_key"),
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), "band_key")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("double")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_pairs_sql(table: str = "documents", threshold: float = 0.5, n: int = 3) -> str:
    """DuckDB twin of minhash_pairs (identical hash constants and banding)."""
    sh = word_shingles_sql("text", n)
    sh_hash = f"list_transform({sh}, s -> {str_hash_sql('s')} % {P})"
    sig_exprs = []
    for a_c, b_c in minhash_constants():
        sig_exprs.append(
            f"list_aggregate(list_transform(hashes, x -> (x * {a_c} + {b_c}) % {P}), 'min')"
        )
    sig_list = "[" + ", ".join(sig_exprs) + "]"
    band_exprs = []
    for bi in range(N_BANDS):
        parts = [f"'{bi}'"] + [
            f"CAST(sig[{bi * ROWS_PER_BAND + r + 1}] AS VARCHAR)" for r in range(ROWS_PER_BAND)
        ]
        band_exprs.append("concat_ws(':', " + ", ".join(parts) + ")")
    bands_list = "[" + ", ".join(band_exprs) + "]"
    return f"""
WITH sh AS (
  SELECT doc_id, {sh} AS shingles FROM {table}
), nz AS (
  SELECT doc_id, shingles, list_transform(shingles, s -> {str_hash_sql('s')} % {P}) AS hashes
  FROM sh WHERE len(shingles) > 0
), sigs AS (
  SELECT doc_id, shingles, {sig_list} AS sig FROM nz
), bands AS (
  SELECT doc_id, unnest({bands_list}) AS band_key FROM sigs
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y USING (band_key)
  WHERE x.doc_id < y.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE), 4) AS jaccard
FROM cand JOIN sigs a ON cand.doc_a = a.doc_id JOIN sigs b ON cand.doc_b = b.doc_id
WHERE round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE), 4) >= {threshold}
"""


# --- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 16


def simhash_col(text: Column) -> Column:
    """16-bit SimHash over distinct whitespace tokens: bit j set iff
    Σ_tokens (bit j of token-hash ? +1 : -1) > 0. Pure arithmetic -> portable."""
    tok_hashes = F.transform(
        F.array_distinct(tokens(text)), lambda w: str_hash_col(w) % F.lit(P)
    )
    powers = F.array(*[F.lit(2 ** j).cast("bigint") for j in range(SIMHASH_BITS)])
    init = F.array_repeat(F.lit(0).cast("bigint"), SIMHASH_BITS)
    # Single-pass fold (token hash computed once per token, all 16 bit
    # counters updated via zip_with) — same values as the per-bit sums.
    bit_sums = F.aggregate(
        tok_hashes,
        init,
        lambda acc, x: F.zip_with(
            acc,
            powers,
            lambda s, p: s + F.when(F.floor(x / p) % 2 == 1, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(bit_sums, powers, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def simhash_sql(text: str) -> str:
    tok = f"list_distinct({tokens_sql(text)})"
    hashes = f"list_transform({tok}, w -> {str_hash_sql('w')} % {P})"
    bit_terms = []
    for j in range(SIMHASH_BITS):
        s = (
            f"list_sum(list_transform({hashes}, "
            f"x -> CASE WHEN (x // {2 ** j}) % 2 = 1 THEN 1 ELSE -1 END))"
        )
        bit_terms.append(f"CASE WHEN {s} > 0 THEN {2 ** j} ELSE 0 END")
    return "CAST((" + " + ".join(bit_terms) + ") AS BIGINT)"


def simhash_pairs(documents: DataFrame, max_hamming: int = 2, text_col: str = "text") -> DataFrame:
    """Near-dup pairs by signature hamming <= max_hamming. Pairwise at test SF;
    simhash_pairs_banded is the scale path."""
    s = documents.select(F.col("doc_id"), simhash_col(F.col(text_col)).alias("sig"))
    a = s.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    b = s.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_band(sig: Column, band: int, n_bands: int) -> Column:
    """Bits of band `band` when the SIMHASH_BITS signature is cut into
    n_bands contiguous slices (last band takes the remainder)."""
    width = SIMHASH_BITS // n_bands
    start = band * width
    nbits = width if band < n_bands - 1 else SIMHASH_BITS - start
    # bitwise shift, not floor(x / 2^k): double division loses exactness for
    # signatures wider than 52 bits
    return F.shiftright(sig, start).bitwiseAND(F.lit((1 << nbits) - 1))


def simhash_pairs_banded(
    documents: DataFrame, max_hamming: int = 2, text_col: str = "text"
) -> DataFrame:
    """Scale path (EXACT, not approximate): by pigeonhole, two signatures
    within hamming h must agree on at least one of h+1 disjoint bit bands —
    so candidates come from h+1 equi-joins on (band_id, band_bits), never a
    crossJoin, and the hamming verify keeps exactly simhash_pairs' result."""
    n_bands = max_hamming + 1
    # materialized once: the plan reads the signature relation on both join
    # sides (the minhash_pairs signature table)
    s = materialize(
        documents.select(F.col("doc_id"), simhash_col(F.col(text_col)).alias("sig"))
    )
    bands = s.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        _simhash_band(F.col("sig"), b, n_bands).alias("band_bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sig", F.col("bk.band_id").alias("band_id"), F.col("bk.band_bits").alias("band_bits"))
    x = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "band_id", "band_bits"
    )
    y = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "band_id", "band_bits"
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return (
        x.join(y, ["band_id", "band_bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs_banded_sql(
    table: str = "documents", max_hamming: int = 2
) -> str:
    """DuckDB twin of simhash_pairs_banded (same banding arithmetic)."""
    n_bands = max_hamming + 1
    sig = simhash_sql("text")
    width = SIMHASH_BITS // n_bands

    def band(b: int) -> str:
        start = b * width
        nbits = width if b < n_bands - 1 else SIMHASH_BITS - start
        return f"((sig >> {start}) & {(1 << nbits) - 1})"

    unions = "\nUNION ALL\n".join(
        f"SELECT doc_id, sig, {b} AS band_id, {band(b)} AS band_bits FROM s"
        for b in range(n_bands)
    )
    return f"""
WITH s AS (
  SELECT doc_id, {sig} AS sig FROM {table}
), bands AS ({unions})
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       CAST(bit_count(xor(x.sig, y.sig)) AS INTEGER) AS hamming
FROM bands x JOIN bands y ON x.band_id = y.band_id AND x.band_bits = y.band_bits
WHERE x.doc_id < y.doc_id AND bit_count(xor(x.sig, y.sig)) <= {max_hamming}
"""


# --- embedding cosine near-dup ---------------------------------------------


def embedding_dup_pairs_lsh(
    embeddings: DataFrame,
    max_cos_dist: float = 0.2,
    n_bits: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """100 TB path for embedding near-dup: candidate pairs from per-table
    LSH-bucket self-joins (shuffle on the bucket key, never a crossJoin),
    then exact cosine verify. Probabilistic containment of the brute-force
    pairs (tested as a property); recall rises with n_tables."""
    from .lsh import _hyperplanes, _tag_buckets

    dim = len(embeddings.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_bits, n_tables, seed)
    # materialized once: feeds the key explode and both verify sides
    tagged = materialize(
        _tag_buckets(
            embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
            "v",
            planes,
            "b",
        )
    )

    # ONE self-join on the composite (table, bucket) key: each side explodes
    # its per-table keys in the same scan (narrow fan-out), so candidate
    # generation is a single shuffle instead of n_tables joins unioned.
    keys = tagged.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("bk"))
                    for t in range(n_tables)
                ]
            )
        ).alias("e"),
    ).select("id", F.col("e.t").alias("t"), F.col("e.bk").alias("bk"))
    cand = (
        keys.alias("x")
        .join(keys.alias("y"), ["t", "bk"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )

    # norms hoisted below the verify joins (one fold per pair, not three —
    # see vec_cosine_distance_prenorm); bit-identical distances
    a = tagged.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"),
        V.vec_norm(F.col("v")).alias("_na"),
    )
    b = tagged.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"),
        V.vec_norm(F.col("v")).alias("_nb"),
    )
    d = V.vec_cosine_distance_prenorm(
        F.col("v_a"), F.col("v_b"), F.col("_na"), F.col("_nb")
    )
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos_dist", F.round(d, 4))
        .filter(F.col("cos_dist") <= max_cos_dist)
        .select("id_a", "id_b", "cos_dist")
    )
    return out


def embedding_dup_pairs(
    embeddings: DataFrame,
    max_cos_dist: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vector near-dup pairs: cosine distance <= max_cos_dist, a<b.
    Brute pairs here (oracle tier); embedding_dup_pairs_lsh is the 100 TB path."""
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    d = V.vec_cosine_distance(F.col("v_a"), F.col("v_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_dist", F.round(d, 4))
        .filter(F.col("cos_dist") <= max_cos_dist)
        .select("id_a", "id_b", "cos_dist")
    )


# --- duplicate clustering (connected components + canonical selection) ------


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, component_id) with
    component_id = min doc_id reachable through the pair graph.

    Pairwise output is not what a dedup pipeline ships — transitive closure
    is ("A~B, B~C" must drop two of {A,B,C}, not one). Computed by min-label
    propagation: every vertex starts labeled with itself; each iteration
    takes the min over its own and its neighbors' labels; fixpoint = the
    component minimum. Round 1 needs no labels yet (min over self and
    neighbour ids: one groupBy of the symmetric edges); every later round is
    one equi-join (labels onto edge endpoints) + one map-combinable
    min-groupBy — no crossJoin, no collect. Each round is one
    materialization, and its count of changed labels is observed in the
    same pass, so convergence costs no extra job. Iterations are bounded by
    graph DIAMETER (``max_iter`` rounds, round 1 included), and near-dup
    clusters are shallow (dup clusters of real corpora are cliques-ish); an
    adversarial long chain that exceeds ``max_iter`` raises, and the caller
    re-runs with a larger ``max_iter``.

    Only vertices that appear in >= 1 pair are returned; unpaired docs are
    their own (trivial) components and don't need rows at 100 TB scale.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = materialize(
        edges.unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )

    def _round(labels: DataFrame | None) -> tuple[DataFrame, int]:
        # (id, label, old): the min over self and neighbours next to the
        # vertex's previous label. Each round is materialized (its plan
        # would otherwise nest the previous round's twice, join + union, and
        # analyzer time goes exponential in the round count — the same
        # discipline GraphFrames' connected components uses); the changed
        # count is observed on that materialization.
        if labels is None:
            step = (
                edges.groupBy("src")
                .agg(F.min("dst").alias("m"))
                .select(
                    F.col("src").alias("id"),
                    F.least("m", "src").alias("label"),
                    F.col("src").alias("old"),
                )
            )
        else:
            none = F.lit(None).cast(labels.schema["label"].dataType)
            step = (
                edges.join(labels, edges["dst"] == labels["id"])
                .select(F.col("src").alias("id"), "label", none.alias("old"))
                .unionAll(labels.select("id", "label", F.col("label").alias("old")))
                .groupBy("id")
                .agg(F.min("label").alias("label"), F.min("old").alias("old"))
            )
        obs = Observation()
        out = materialize(
            step.observe(
                obs, F.count(F.when(F.col("label") != F.col("old"), 1)).alias("n")
            ).select("id", "label")
        )
        return out, int(obs.get["n"])

    labels = None
    for _ in range(max_iter):
        stale = labels
        labels, changed = _round(labels)
        if stale is not None:
            release(stale)
        if changed == 0:
            break
    else:
        # Labels are only correct at fixpoint; a chain longer than max_iter
        # hops would silently split one component into several. Real dup
        # clusters are shallow (cliques-ish), so hitting this means either
        # an adversarial input or max_iter set too low: raise, and the
        # caller re-runs with a larger max_iter.
        release(*[d for d in (edges, labels) if d is not None])
        raise RuntimeError(
            f"duplicate_components did not converge within max_iter={max_iter} "
            "label-propagation rounds (graph diameter exceeds max_iter); "
            "raise max_iter — labels at this point are NOT transitive closure"
        )
    release(edges)
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("component_id"))


def duplicate_components_sql(pairs_sql: str, id_a: str = "doc_a", id_b: str = "doc_b") -> str:
    """DuckDB twin: transitive closure by recursive CTE (UNION dedups the
    frontier so it terminates), then min reachable id per vertex."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT {id_a} AS src, {id_b} AS dst FROM pairs
  UNION
  SELECT {id_b} AS src, {id_a} AS dst FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM reach r JOIN edges e ON e.dst = r.id
)
SELECT id AS doc_id, min(lab) AS component_id FROM reach GROUP BY id
"""


def canonical_docs(
    components: DataFrame,
) -> DataFrame:
    """Per-component summary for the keep-one-per-cluster policy:
    (component_id, n_members, canonical_doc_id). Canonical = min doc_id =
    the component label itself (deterministic, join-free to apply: a doc
    survives iff doc_id == component_id). One map-combinable groupBy."""
    return components.groupBy("component_id").agg(
        F.count("*").alias("n_members"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


# --- benchmark decontamination ----------------------------------------------


def contamination_flags(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination, the n-gram-collision recipe from the
    public LLM literature (GPT-3 / PaLM appendices): a training document is
    CONTAMINATED if it shares at least one distinct word n-gram with the
    evaluation corpus. Returns (doc_id, n_shared) for every contaminated
    training doc.

    Scale shape: both sides shingle in one scan (the same word_shingles
    fold the dedup family uses); the eval side collapses to its DISTINCT
    shingle set — benchmark corpora are tiny next to training corpora, so
    it broadcasts — and the training side streams through one hash
    equi-join + map-combinable distinct-count. No crossJoin, no driver
    materialization of either corpus. Both sides reduce shingles to their
    60-bit portable md5 BEFORE any shuffle: the training-side distinct (the
    corpus-sized exchange) and the broadcast both carry int64 keys instead
    of n-token strings.
    """
    # no .distinct() on the training side: word_shingles is array_distinct
    # per document, so (doc_id, shh) rows are already unique (modulo hash
    # collisions, which both engines then count identically) — a distinct
    # here would be a redundant corpus-wide shuffle of the largest relation
    d = docs.select(
        "doc_id", F.explode(word_shingles(F.col(text_col), n)).alias("sh")
    ).select("doc_id", str_hash_col(F.col("sh")).alias("shh"))
    e = (
        eval_docs.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("sh")
        )
        .select(str_hash_col(F.col("sh")).alias("shh"))
        .distinct()
    )
    return (
        d.join(F.broadcast(e), "shh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def contamination_flags_sql(
    docs_sql: str, eval_sql: str, n: int = 5, text_expr: str = "text"
) -> str:
    sh = word_shingles_sql(text_expr, n)
    shh = str_hash_sql("sh")
    return f"""
WITH d AS (
  SELECT doc_id, {shh} AS shh FROM (
    SELECT doc_id, unnest({sh}) AS sh FROM ({docs_sql})
  )
), e AS (
  SELECT DISTINCT {shh} AS shh FROM (
    SELECT unnest({sh}) AS sh FROM ({eval_sql})
  )
)
SELECT d.doc_id, count(*) AS n_shared
FROM d JOIN e ON d.shh = e.shh
GROUP BY d.doc_id
"""


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Training docs with every contaminated document removed (anti-join
    against the contamination flags)."""
    flagged = contamination_flags(docs, eval_docs, n=n, text_col=text_col)
    return docs.join(flagged.select("doc_id"), "doc_id", "left_anti")


# --- Bloom-filter runtime prefilter for decontamination ---------------------

BLOOM_BITS = 8192
BLOOM_HASHES = 3
_BLOOM_SEED = 7700


def _bloom_positions_h(shh: Column, m: int, kb: int) -> list[Column]:
    """Bit positions for an ALREADY str_hash_col-reduced shingle (int64)."""
    return [
        F.pmod(portable_hash_col(shh, seed=_BLOOM_SEED + i), F.lit(m))
        for i in range(kb)
    ]


def _bloom_positions(sh: Column, m: int, kb: int) -> list[Column]:
    return _bloom_positions_h(str_hash_col(sh), m, kb)


# Above this many 64-bit words the bitmap ships as a Spark broadcast
# variable consumed by an Arrow-batched bit-test kernel instead of an
# array-of-literals expression — Catalyst analysis/codegen cost grows with
# literal count (measured: ~3.5 s per query at 8k elements), while a
# broadcast numpy array is O(1) in the plan.
_BLOOM_LITERAL_MAX_WORDS = 1024


def _bloom_size_for(n_keys: int) -> int:
    """Bitmap size for an eval shingle set of ``n_keys``: ~16 bits/key
    (false-positive rate ~0.5% at kb=3), rounded up to a multiple of 64,
    floored at the demonstration default and capped at P//64*64 = 1,000,000
    bits — the portable hash's output lives in [0, P) with P = 1,000,003,
    so positions past P are unreachable and a larger bitmap buys nothing.
    Past ~60k eval shingles the load factor (and FP rate) therefore rises;
    FPs only cost exact-join work, never correctness."""
    want = max(BLOOM_BITS, 16 * max(n_keys, 1))
    return min(P // 64 * 64, (want + 63) // 64 * 64)


def bloom_bitmap(
    shingles: DataFrame,
    col: str = "sh",
    m: int = BLOOM_BITS,
    kb: int = BLOOM_HASHES,
    hashed: bool = False,
) -> list[int]:
    """Build an m-bit Bloom bitmap of a shingle relation as m/64 signed
    longs. The build is a map-combinable bit_or aggregate over word indices,
    so the driver collects AT MOST m/64 rows no matter how many shingles go
    in — the bounded-collect discipline (same as centroid/codebook tables).
    ``hashed=True`` means ``col`` already holds the 60-bit ``str_hash_col``
    reduction of the shingle (int64) rather than the raw string.
    """
    if m % 64 != 0:
        raise ValueError(f"bloom bits m must be a multiple of 64, got {m}")
    mk_pos = _bloom_positions_h if hashed else _bloom_positions
    pos = shingles.select(
        F.explode(F.array(*mk_pos(F.col(col), m, kb))).alias("p")
    )
    words = (
        pos.select(
            (F.col("p") / 64).cast("int").alias("wi"),
            F.expr("shiftleft(1L, cast(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("wi")
        .agg(F.expr("bit_or(bit)").alias("w"))
        .collect()
    )
    out = [0] * (m // 64)
    for r in words:
        out[r["wi"]] = r["w"]
    return out


def contamination_flags_bloom(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    m: int | None = None,
    kb: int = BLOOM_HASHES,
) -> DataFrame:
    """`contamination_flags` with a Bloom-bitmap runtime prefilter: the eval
    shingle set is folded into an m-bit bitmap (m/64 long literals) and every
    training shingle is bit-tested BEFORE the equi-join. Bloom false
    positives pass the prefilter but die in the exact join that follows, so
    the RESULT is identical to `contamination_flags` (the registry reuses
    the exact form's oracle) — only the plan changes.  Both the bitmap keys
    and the final join use the SAME 60-bit `str_hash_col` reduction as the
    exact form, so the two forms agree even on cross-string hash collisions
    (the oracle contract is exact, not merely overwhelmingly-likely).

    ``m=None`` (default) sizes the bitmap from the eval shingle count
    (~16 bits/key, `_bloom_size_for`) — the fixed 8192-bit demonstration
    default would saturate past ~1k distinct eval shingles and pass
    everything.  Sizing costs one count of the (tiny, distinct) eval side.

    When it matters: `contamination_flags` broadcasts the eval shingle set
    as a join hash table — fine for benchmark-sized eval corpora. When the
    eval side outgrows the broadcast threshold (decontaminating against a
    large held-out corpus), the join becomes a two-sided shuffle; a bitmap
    (2^30 bits = 128 MiB at real scale) still fits executor memory and
    prunes the training side AT THE SCAN, cutting the shuffle to
    near-only-true-collisions. The bit test itself is whole-stage-codegen
    arithmetic (no UDF). NOTE the literal-array form here is capped at 2^20
    bits (m/64 = 16k lit elements); at 2^30 bits the bitmap must ship as a
    broadcast variable consumed by a pandas_udf bit test (or a literal
    BINARY column), not an array-of-literals expression — the expression
    tree itself would be 16M nodes."""
    # (doc_id, shh) exactly like the exact form: word_shingles is
    # array_distinct per document, so no corpus-wide distinct is needed.
    d = docs.select(
        "doc_id", F.explode(word_shingles(F.col(text_col), n)).alias("sh")
    ).select("doc_id", str_hash_col(F.col("sh")).alias("shh"))
    # The eval shingle set is read three times (the sizing count, the
    # bitmap build, the exact join) — materialize it ONCE with the sizing
    # count fused into the same job via observe() (the
    # duplicate_components discipline). It is the relation the exact
    # join already broadcasts, so holding it is bounded by the same
    # assumption (eval corpora are small by definition).
    e = (
        eval_docs.select(F.explode(word_shingles(F.col(text_col), n)).alias("sh"))
        .select(str_hash_col(F.col("sh")).alias("shh"))
        .distinct()
    )
    if m is None:
        obs = Observation()
        e = materialize(e.observe(obs, F.count(F.lit(1)).alias("n")))
        m = _bloom_size_for(int(obs.get["n"]))
    else:
        e = materialize(e)
    bm = bloom_bitmap(e, col="shh", m=m, kb=kb, hashed=True)
    if m // 64 <= _BLOOM_LITERAL_MAX_WORDS:
        # small bitmap: whole-stage-codegen arithmetic on a literal array
        bitmap = F.array(*[F.lit(w).cast("long") for w in bm])
        probe = d.withColumn("_bm", bitmap)
        hit = None
        for i, p in enumerate(_bloom_positions_h(F.col("shh"), m, kb)):
            probe = probe.withColumn(f"_p{i}", p)
            t = F.expr(
                f"((element_at(_bm, cast(_p{i} / 64 AS INT) + 1) "
                f">> cast(_p{i} % 64 AS INT)) & 1) = 1"
            )
            hit = t if hit is None else (hit & t)
        pre = probe.filter(hit).select("doc_id", "shh")
    else:
        # large bitmap: one broadcast numpy array + an Arrow-batched bit
        # test (same positions via the portable hash's numpy twin) — the
        # plan carries a single UDF node instead of m/64 literals
        from ..functions.hashing import portable_hash_np

        words = np.array(bm, dtype=np.int64).view(np.uint64)
        bc = docs.sparkSession.sparkContext.broadcast(words)
        seeds = [_BLOOM_SEED + i for i in range(kb)]

        @F.pandas_udf("boolean")
        def bloom_hit(shh: pd.Series) -> pd.Series:
            w = bc.value
            h = shh.to_numpy("int64")
            ok = np.ones(len(h), dtype=bool)
            for s in seeds:
                pos = portable_hash_np(h, seed=s) % m
                ok &= ((w[pos >> 6] >> (pos.astype("uint64") & 63)) & 1) == 1
            return pd.Series(ok)

        pre = d.filter(bloom_hit(F.col("shh"))).select("doc_id", "shh")
    return (
        pre.join(F.broadcast(e), "shh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# --- intra-document repetition (Gopher/MassiveText-style quality rules) -----


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Per-document repetition signals from the public LLM quality-filter
    literature (Gopher / MassiveText rules): the fraction of characters
    covered by the single most frequent word ``top_n``-gram, and the
    fraction covered by ALL word ``dup_n``-grams occurring more than once.
    High values mark boilerplate/spam (repeated navigation, keyword
    stuffing) that survives corpus-level dedup because it repeats WITHIN
    one document.

    Relational shape (not a per-row mega-expression): explode n-grams ->
    one map-combinable (doc, ngram) count -> per-doc aggregate back.
    Character coverage = occurrences x n-gram length / document length;
    overlapping occurrences can push a ratio past 1.0 — values are
    thresholds' inputs, not probabilities. Integer products and one double
    division + round(4): bit-identical in the DuckDB twin.
    """
    base = docs.select(
        F.col("doc_id"),
        F.char_length(F.col(text_col)).alias("n_chars"),
        word_ngrams(F.col(text_col), top_n).alias("_g_top"),
        word_ngrams(F.col(text_col), dup_n).alias("_g_dup"),
    )

    def per_doc(col: str, dup_only: bool) -> DataFrame:
        counts = (
            base.select("doc_id", "n_chars", F.explode(col).alias("g"))
            .groupBy("doc_id", "n_chars", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        covered = F.col("c") * F.char_length(F.col("g"))
        if dup_only:
            agg = F.sum(F.when(F.col("c") > 1, covered).otherwise(F.lit(0)))
            return counts.groupBy("doc_id", "n_chars").agg(agg.alias("cov"))
        # the Gopher rule wants the coverage of the single MOST FREQUENT
        # n-gram (not the max coverage over all n-grams, which a long rare
        # gram could win); ties break by coverage then gram for determinism
        w = Window.partitionBy("doc_id").orderBy(
            F.col("c").desc(), covered.desc(), F.col("g").asc()
        )
        return (
            counts.withColumn("_cov", covered)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("doc_id", "n_chars", F.col("_cov").alias("cov"))
        )

    top = per_doc("_g_top", dup_only=False).select(
        "doc_id",
        F.round(F.col("cov") / F.col("n_chars"), 4).alias("top_ngram_char_frac"),
    )
    dup = per_doc("_g_dup", dup_only=True).select(
        "doc_id",
        F.round(F.col("cov") / F.col("n_chars"), 4).alias("dup_ngram_char_frac"),
    )
    return (
        docs.select("doc_id")
        .join(top, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("top_ngram_char_frac", F.lit(0.0)).alias("top_ngram_char_frac"),
            F.coalesce("dup_ngram_char_frac", F.lit(0.0)).alias("dup_ngram_char_frac"),
        )
    )


def repetition_stats_sql(
    table: str = "documents", top_n: int = 2, dup_n: int = 5
) -> str:
    g_top = word_ngrams_sql("text", top_n)
    g_dup = word_ngrams_sql("text", dup_n)
    return f"""
WITH base AS (
  SELECT doc_id, length(text) AS n_chars, {g_top} AS g_top, {g_dup} AS g_dup
  FROM {table}
),
top_counts AS (
  SELECT doc_id, n_chars, g, count(*) AS c FROM (
    SELECT doc_id, n_chars, unnest(g_top) AS g FROM base
  ) GROUP BY 1, 2, 3
),
top_ranked AS (
  SELECT doc_id, n_chars, c * length(g) AS cov,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, c * length(g) DESC, g ASC) AS _rn
  FROM top_counts
),
top_frac AS (
  SELECT doc_id, round(CAST(cov AS DOUBLE) / n_chars, 4) AS top_ngram_char_frac
  FROM top_ranked WHERE _rn = 1
),
dup_counts AS (
  SELECT doc_id, n_chars, g, count(*) AS c FROM (
    SELECT doc_id, n_chars, unnest(g_dup) AS g FROM base
  ) GROUP BY 1, 2, 3
),
dup_frac AS (
  SELECT doc_id,
         round(CAST(sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS DOUBLE)
               / n_chars, 4) AS dup_ngram_char_frac
  FROM dup_counts GROUP BY doc_id, n_chars
)
SELECT d.doc_id,
       coalesce(t.top_ngram_char_frac, 0.0) AS top_ngram_char_frac,
       coalesce(f.dup_ngram_char_frac, 0.0) AS dup_ngram_char_frac
FROM {table} d
LEFT JOIN top_frac t ON t.doc_id = d.doc_id
LEFT JOIN dup_frac f ON f.doc_id = d.doc_id
"""


def substr_dup_stats(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-substring statistics — the ExactSubstr
    granularity (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022): a ``k``-token window is DUPLICATED iff the
    identical window occurs in at least one OTHER document. Per document:
    window count, duplicated-window count, duplicated-token count (distinct
    token positions covered by >=1 duplicated window — the interval-union
    form, so overlapping windows don't double-count), and the duplicated
    token fraction.

    This sits between exact whole-doc dedup and paragraph/chunk dedup
    (dedup_chunk_pairs): it catches shared spans (licenses, templates,
    quoted passages) inside otherwise-unique documents.

    Relational shape: posexplode k-gram occurrences -> map-combinable
    gram -> n-distinct-docs aggregate (vocab-sized relation) -> one
    equi-join back on the gram key -> sequence-explode the surviving
    window positions (a bounded x k fan-out of the DUPLICATED windows
    only) -> per-doc distinct-position count. No all-pairs anywhere; the
    heavy relations are (corpus windows) and (duplicated windows x k),
    both linear in corpus size. The gram-keyed shuffle — the corpus-sized
    one — carries the 60-bit portable md5 of the gram, not the k-token
    string (~6x fewer shuffle bytes; the oracle computes the same hash, and
    a cross-gram collision would need ~2^30 distinct grams per partition
    pair to matter — the standard hashed-ExactSubstr trade).
    """
    if k < 1:
        raise ValueError(f"window size k must be >= 1, got {k}")
    lowered = docs.select(
        "doc_id",
        token_count(F.col(text_col)).alias("n_tokens"),
        word_ngrams(F.lower(F.col(text_col)), k).alias("_grams"),
    )
    ex = lowered.select(
        "doc_id", F.posexplode(F.col("_grams")).alias("pos", "g")
    ).select("doc_id", "pos", str_hash_col(F.col("g")).alias("gh"))
    shared = (
        ex.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    dup_windows = ex.join(shared, "gh").select("doc_id", "pos")
    dup_counts = dup_windows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_windows")
    )
    covered = (
        dup_windows.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("ti"),
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("ti").alias("dup_tokens"))
    )
    return (
        lowered.select("doc_id", "n_tokens", F.size("_grams").alias("n_windows"))
        .join(dup_counts, "doc_id", "left")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
                6,
            ).alias("dup_token_frac"),
        )
    )


def substr_dup_stats_sql(table: str = "documents", k: int = 8) -> str:
    grams = word_ngrams_sql("lower(text)", k)
    toks = token_count_sql("text")
    return f"""
WITH lowered AS (
  SELECT doc_id, {toks} AS n_tokens, {grams} AS grams FROM {table}
),
ex AS (
  SELECT doc_id, pos, {str_hash_sql('g')} AS gh FROM (
    SELECT doc_id,
           unnest(range(0, len(grams))) AS pos,
           unnest(grams) AS g
    FROM lowered
  )
),
shared AS (
  SELECT gh FROM ex GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
),
dup_windows AS (
  SELECT doc_id, pos FROM ex JOIN shared USING (gh)
),
dup_counts AS (
  SELECT doc_id, count(*) AS n_dup_windows FROM dup_windows GROUP BY doc_id
),
covered AS (
  SELECT doc_id, count(DISTINCT ti) AS dup_tokens FROM (
    SELECT doc_id, unnest(range(pos, pos + {k})) AS ti FROM dup_windows
  ) GROUP BY doc_id
)
SELECT l.doc_id,
       l.n_tokens,
       len(l.grams) AS n_windows,
       coalesce(d.n_dup_windows, 0) AS n_dup_windows,
       coalesce(c.dup_tokens, 0) AS dup_tokens,
       round(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE)
             / greatest(l.n_tokens, 1), 6) AS dup_token_frac
FROM lowered l
LEFT JOIN dup_counts d ON d.doc_id = l.doc_id
LEFT JOIN covered c ON c.doc_id = l.doc_id
"""


# A (doc_id, window_pos) pair is encoded as doc_id * 2^20 + pos so one
# integer MIN picks the lexicographically-first occurrence of a gram in
# both engines (no struct-min portability concerns). Documents longer than
# 2^20 whitespace tokens would alias positions — far beyond any curation
# corpus's document length; shard such documents upstream. The encoding
# also requires 0 <= doc_id < 2^43: larger ids overflow int64 (or hard-fail
# under ANSI mode) and negative ids invert the "lexicographically-first
# canonical" MIN rule — `_encode_occurrence` enforces this at runtime.
_SUBSTR_POS_ENCODE = 1 << 20
_SUBSTR_DOC_ID_MAX = (1 << 63) // _SUBSTR_POS_ENCODE  # 2^43


def _encode_occurrence(doc_col: Column, pos_col: Column) -> Column:
    """(doc_id, pos) -> one int64 whose MIN is the lexicographically-first
    occurrence. Raises (per-row, JVM-side) on doc_ids outside [0, 2^43),
    which would silently alias under the 2^20 position stride."""
    in_domain = (doc_col >= 0) & (doc_col < F.lit(_SUBSTR_DOC_ID_MAX))
    return F.when(
        in_domain, doc_col * F.lit(_SUBSTR_POS_ENCODE) + pos_col
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("doc_id out of occurrence-encoding domain [0, 2^43): "),
                doc_col.cast("string"),
            )
        )
    )


def substr_dedup_remove(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """The REMOVAL step of ExactSubstr dedup (Lee et al., ACL 2022),
    completing `substr_dup_stats`: every occurrence of a cross-document
    duplicated ``k``-token window is cut out of its document EXCEPT the
    canonical one (the globally lexicographically-first (doc_id, pos)
    occurrence — deterministic, partition-invariant). Removed spans are
    interval-unioned per document, surviving tokens are rejoined with
    single spaces (output text is whitespace-normalized, like the published
    tool's token-stream rewrite). Returns
    (doc_id, text, n_tokens, n_removed_tokens) for EVERY input document.

    One-pass contract: canonical occurrences survive, so a second pass can
    still see duplicated grams (and removal can splice new windows
    together) — same fixpoint caveat as the published implementation; run
    to fixpoint only if the training recipe demands it.

    Relational shape mirrors `substr_dup_stats`: gram-hash aggregate
    (vocab-sized, carries an int64 MIN of the encoded occurrence) -> one
    equi-join back -> bounded x k fan-out of removed windows only ->
    token-position anti-join -> per-doc ordered reassembly (array_sort over
    (pos, token) structs; a groupBy, not a window sort). No all-pairs.
    """
    if k < 1:
        raise ValueError(f"window size k must be >= 1, got {k}")
    base = docs.select(
        "doc_id",
        tokens(F.col(text_col)).alias("_toks"),
        word_ngrams(F.lower(F.col(text_col)), k).alias("_grams"),
    )
    ex = base.select(
        "doc_id", F.posexplode(F.col("_grams")).alias("pos", "g")
    ).select("doc_id", "pos", str_hash_col(F.col("g")).alias("gh"))
    enc = _encode_occurrence(F.col("doc_id"), F.col("pos"))
    gram = (
        ex.groupBy("gh")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min(enc).alias("canon"),
        )
        .filter(F.col("nd") >= 2)
        .select("gh", "canon")
    )
    removed_w = (
        ex.join(gram, "gh").filter(enc != F.col("canon")).select("doc_id", "pos")
    )
    removed_pos = removed_w.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias("ti"),
    ).distinct()
    tok_pos = base.select(
        "doc_id", F.posexplode(F.col("_toks")).alias("ti", "tok")
    )
    kept = tok_pos.join(removed_pos, ["doc_id", "ti"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ti", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        base.select("doc_id", F.size("_toks").alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed_tokens"
            ),
        )
    )


def substr_dedup_remove_sql(table: str = "documents", k: int = 8) -> str:
    grams = word_ngrams_sql("lower(text)", k)
    toks = tokens_sql("text")
    gh = str_hash_sql("g")
    enc = f"(doc_id * {_SUBSTR_POS_ENCODE} + pos)"
    return f"""
WITH base AS (
  SELECT doc_id, {toks} AS toks, {grams} AS grams FROM {table}
),
ex AS (
  SELECT doc_id, pos, {gh} AS gh FROM (
    SELECT doc_id,
           unnest(range(0, len(grams))) AS pos,
           unnest(grams) AS g
    FROM base
  )
),
gram AS (
  SELECT gh, min({enc}) AS canon
  FROM ex GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
),
removed_w AS (
  SELECT doc_id, pos FROM ex JOIN gram USING (gh) WHERE {enc} <> canon
),
removed_pos AS (
  SELECT DISTINCT doc_id, ti FROM (
    SELECT doc_id, unnest(range(pos, pos + {k})) AS ti FROM removed_w
  )
),
tok_pos AS (
  SELECT doc_id, unnest(range(0, len(toks))) AS ti, unnest(toks) AS tok
  FROM base
),
kept AS (
  SELECT t.doc_id, t.ti, t.tok
  FROM tok_pos t LEFT JOIN removed_pos r
    ON t.doc_id = r.doc_id AND t.ti = r.ti
  WHERE r.ti IS NULL
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS text, count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(r.text, '') AS text,
       len(b.toks) AS n_tokens,
       len(b.toks) - coalesce(r.n_kept, 0) AS n_removed_tokens
FROM base b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
"""


def line_dedup_corpus(
    docs: DataFrame,
    min_occurrences: int = 2,
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """CORPUS-LEVEL line dedup — the C4 recipe (Raffel et al. 2020: "we
    discarded all but one of any three-sentence span occurring more than
    once in the data set", applied here at line granularity, the common
    reproduction): a trimmed line whose corpus-wide occurrence count is
    >= ``min_occurrences`` keeps only its canonical occurrence (the
    globally-first (doc_id, line_pos), same int64-MIN rule as
    `substr_dedup_remove`); every other occurrence — including repeats
    WITHIN one document (boilerplate) — is dropped. Whitespace-only lines
    are structure, not content: never counted, never removed. Returns
    (doc_id, text, n_lines, n_removed_lines) for every input document,
    text rebuilt from surviving lines joined with ``sep``.

    Scale shape: one posexplode -> line-hash aggregate (distinct-line-sized
    relation carrying a count and an int64 MIN) -> one equi-join back ->
    per-doc ordered reassembly. The corpus-sized shuffle carries the 60-bit
    line hash, not line text. No all-pairs anywhere."""
    if min_occurrences < 2:
        raise ValueError(f"min_occurrences must be >= 2, got {min_occurrences}")
    import re

    # F.split's pattern is a Java regex while array_join (and the DuckDB
    # twin's string_split) treat sep literally — escape so a separator like
    # '|' splits literally instead of per-character
    base = docs.select(
        "doc_id", F.split(F.col(text_col), re.escape(sep), -1).alias("_lines")
    )
    ex = base.select(
        "doc_id", F.posexplode(F.col("_lines")).alias("pos", "line")
    ).withColumn("_norm", F.trim(F.col("line")))
    content = ex.filter(F.col("_norm") != "").select(
        "doc_id", "pos", str_hash_col(F.col("_norm")).alias("lh")
    )
    enc = _encode_occurrence(F.col("doc_id"), F.col("pos"))
    freq = (
        content.groupBy("lh")
        .agg(F.count(F.lit(1)).alias("n"), F.min(enc).alias("canon"))
        .filter(F.col("n") >= min_occurrences)
        .select("lh", "canon")
    )
    removed = (
        content.join(freq, "lh").filter(enc != F.col("canon")).select("doc_id", "pos")
    )
    kept = ex.select("doc_id", "pos", "line").join(
        removed, ["doc_id", "pos"], "left_anti"
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        base.select("doc_id", F.size("_lines").alias("n_lines"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            "n_lines",
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed_lines"
            ),
        )
    )


def line_dedup_corpus_sql(
    docs_sql: str,
    min_occurrences: int = 2,
    sep_sql: str = "chr(10)",
) -> str:
    """DuckDB twin over an arbitrary (doc_id, text) relation SQL."""
    lh = str_hash_sql("norm")
    enc = f"(doc_id * {_SUBSTR_POS_ENCODE} + pos)"
    return f"""
WITH base AS (
  SELECT doc_id, string_split(text, {sep_sql}) AS lines FROM ({docs_sql})
),
ex AS (
  SELECT doc_id, pos, line, trim(line) AS norm FROM (
    SELECT doc_id,
           unnest(range(0, len(lines))) AS pos,
           unnest(lines) AS line
    FROM base
  )
),
content AS (
  SELECT doc_id, pos, {lh} AS lh FROM ex WHERE norm <> ''
),
freq AS (
  SELECT lh, min({enc}) AS canon
  FROM content GROUP BY lh HAVING count(*) >= {min_occurrences}
),
removed AS (
  SELECT doc_id, pos FROM content JOIN freq USING (lh) WHERE {enc} <> canon
),
kept AS (
  SELECT e.doc_id, e.pos, e.line
  FROM ex e LEFT JOIN removed r ON e.doc_id = r.doc_id AND e.pos = r.pos
  WHERE r.pos IS NULL
),
rebuilt AS (
  SELECT doc_id, string_agg(line, {sep_sql} ORDER BY pos) AS text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(r.text, '') AS text,
       len(b.lines) AS n_lines,
       len(b.lines) - coalesce(r.n_kept, 0) AS n_removed_lines
FROM base b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
"""


# --- SemDeDup: cluster-bounded semantic dedup -------------------------------
#
# SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication", 2023): cluster the embedding space, then
# look for near-duplicate pairs ONLY within a cluster — the pairwise cosine
# work is bounded by the largest cluster instead of |corpus|², which is what
# makes embedding dedup feasible at 100 TB.  The keep rule is the standard
# greedy one: inside a cluster, drop a vector iff a LOWER-id vector within
# the threshold exists (deterministic, anti-join / NOT EXISTS expressible).
#
# The quantizer here is the deterministic hash-picked one (IVFIndex.
# build_fixed — smallest (md5(id), id) corpus vectors), so clustering,
# assignment, pair generation and the keep rule are ALL reproducible in
# DuckDB SQL; swap build_fixed for IVFIndex.build to run the same operator
# over trained KMeans cells (quality path, same plan shape).


# The SemDeDup paper clusters web-scale corpora into ~N/50k cells (100k
# clusters over ~5B embeddings); that regime keeps the |cluster|² pair work
# bounded at ~2.5e9 comparisons per cell worst-case and is the scale default
# here when ``n_clusters`` is not pinned.
SEMDEDUP_ROWS_PER_CLUSTER = 50_000

# Target rows per (cluster, shard) task of the SemDeDup keep kernel: bounds
# one task's pair work to SEMDEDUP_SHARD_ROWS x |cell| whatever the skew.
SEMDEDUP_SHARD_ROWS = 32_768


def _semdedup_assigned(
    embeddings: DataFrame,
    n_clusters: int | None,
    id_col: str,
    vec_col: str,
    max_cluster_rows: int | None,
) -> DataFrame:
    """Single shared cluster-assignment pass for ``semdedup_pairs`` /
    ``semdedup_keep`` (one ``IVFIndex.build_fixed`` assignment, materialized
    once and reused by every downstream join).

    ``n_clusters=None`` derives the paper-regime default
    ``ceil(N / SEMDEDUP_ROWS_PER_CLUSTER)`` from a corpus count — one extra
    scan, paid only when the caller does not pin the knob.

    ``max_cluster_rows`` guards against a degenerate quantizer (e.g. an
    all-near-identical corpus collapsing into one cell, which would turn the
    per-cluster quadratic into an all-pairs corpus²): cluster sizes are a
    |clusters|-sized aggregate, and the build RAISES if any cell exceeds the
    bound instead of silently launching an infeasible self-join."""
    from .ann import IVFIndex

    if n_clusters is None:
        n_rows = embeddings.count()
        n_clusters = max(2, -(-n_rows // SEMDEDUP_ROWS_PER_CLUSTER))
    idx = IVFIndex.build_fixed(
        embeddings, n_centroids=n_clusters, id_col=id_col, vec_col=vec_col,
        materialize=False,
    )
    assigned = materialize(
        idx.assigned.select(
            F.col("partition_id").alias("cluster_id"),
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
        )
    )
    if max_cluster_rows is not None:
        biggest = (
            assigned.groupBy("cluster_id")
            .count()
            .agg(F.max("count").alias("m"))
            .first()["m"]
        )
        if biggest is not None and biggest > max_cluster_rows:
            release(assigned)
            raise ValueError(
                f"SemDeDup degenerate clustering: largest cluster has "
                f"{biggest} rows > max_cluster_rows={max_cluster_rows}; "
                f"within-cluster pair cost is quadratic, so raise n_clusters "
                f"(~N/{SEMDEDUP_ROWS_PER_CLUSTER}) or the bound explicitly."
            )
    return assigned


def semdedup_pairs(
    embeddings: DataFrame,
    n_clusters: int | None = None,
    max_cos_dist: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int | None = 200_000,
) -> DataFrame:
    """Within-cluster cosine near-dup pairs (cluster_id, id_a, id_b,
    cos_dist), id_a < id_b.  One shuffle on cluster_id for the self-join;
    per-cluster pair cost is |cluster|² — bounded by the coarse quantizer,
    never an all-corpus crossJoin.

    ``n_clusters=None`` (default) derives ~N/50k cells from the corpus size
    (the SemDeDup paper's regime); pin it for reproducible oracle runs.
    ``max_cluster_rows`` raises on a degenerate cell before the quadratic
    join launches — see ``_semdedup_assigned``."""
    assigned = _semdedup_assigned(
        embeddings, n_clusters, id_col, vec_col, max_cluster_rows
    )
    # norms hoisted below the self-join (vec_cosine_distance_prenorm): one
    # interpreted fold per PAIR instead of three — the norm is per-row and
    # each row enters |cluster| pairs. Bit-identical distances.
    a = assigned.select(
        "cluster_id", F.col("id").alias("id_a"), F.col("v").alias("v_a"),
        V.vec_norm(F.col("v")).alias("_na"),
    )
    b = assigned.select(
        "cluster_id", F.col("id").alias("id_b"), F.col("v").alias("v_b"),
        V.vec_norm(F.col("v")).alias("_nb"),
    )
    d = F.round(
        V.vec_cosine_distance_prenorm(
            F.col("v_a"), F.col("v_b"), F.col("_na"), F.col("_nb")
        ),
        4,
    )
    return (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_dist", d)
        .filter(F.col("cos_dist") <= max_cos_dist)
        .select("cluster_id", "id_a", "id_b", "cos_dist")
    )


def semdedup_keep(
    embeddings: DataFrame,
    n_clusters: int | None = None,
    max_cos_dist: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int | None = 200_000,
) -> DataFrame:
    """Survivors of the greedy keep rule: a vector is dropped iff some
    lower-id vector in ITS cluster is within max_cos_dist — exactly the id_b
    side of ``semdedup_pairs``, decided per cell without materializing the
    pair relation and with no iteration.

    Runs ONE cluster assignment (a single ``IVFIndex.build_fixed``,
    materialized) and feeds it to the column-sharded NumPy kernel
    ``_semdedup_keep_arrow``: tiled BLAS with an exact refine on the
    boundary band, so the kept set equals the pairs' anti-join (asserted in
    tests) and the DuckDB oracle ``semdedup_keep_sql``."""
    assigned = _semdedup_assigned(
        embeddings, n_clusters, id_col, vec_col, max_cluster_rows
    )
    return _semdedup_keep_arrow(assigned, max_cos_dist)


def _semdedup_keep_arrow(assigned: DataFrame, max_cos_dist: float) -> DataFrame:
    """Per-cluster survivors via column-sharded ``applyInArrow`` kernels.

    The pair form (``semdedup_pairs``) materializes every within-cluster
    (id_a < id_b) pair and evaluates the cosine HOF fold per row —
    |cluster|²/2 interpreted fold evaluations, the scale bottleneck at
    paper-regime ~50k-row cells (1.25e9 pairs/cell). This kernel answers the
    SAME decision per pair with tiled BLAS over the cell's (n, d) matrix,
    plus an exact-arithmetic refine on the (measure-zero) boundary band so
    the kept SET is decision-identical to the pair form's anti-join:

    * fast path: normalized matmul gives cos_dist_blas; the expression
      decision ``round(d, 4) <= thr`` (Spark HALF_UP on an on-grid thr) is
      equivalent to ``d < thr + 5e-5``; BLAS-vs-fold summation error is
      <~1e-12, so any pair farther than 1e-9 from that cutoff is decided
      outright.
    * refine path: pairs inside the 1e-9 band are recomputed with the
      expression's exact arithmetic — element-ascending left-fold dot and
      norms in float64, then the shortest-repr HALF_UP decimal rounding
      Spark's ``round`` performs (BigDecimal.valueOf == Python repr) — and
      compared ``<= thr`` exactly.

    Straggler control — the 100 TB point of this function: one task per
    CELL makes wall time the quadratic of the LARGEST cell (a 150k-row cell
    is ~20x the pair work of a 50k paper-regime one). So cells are
    column-sharded: targets split into ``SEMDEDUP_SHARD_ROWS``-sized
    id-ordered blocks, and each (cluster, shard) task receives its target
    block plus every lower-id row of the cell as scoring sources (an explode
    over shards >= the row's own — bounded <= ceil(guard/shard)-fold
    duplication of cell rows, ~123 MB worst-case per 150k cell at d=64).
    Per-task pair work is then <= shard * |cell| regardless of cell skew,
    and shards spread across executors like any other task. Cells at or
    under one shard keep exactly one task and duplicate nothing."""
    import decimal

    from pyspark.sql import Window

    from .topk import _arrow_vectors  # resolved driver-side, closure-captured

    thr = float(max_cos_dist)
    cutoff = thr + 5e-5
    band_eps = 1e-9
    chunk = 1024       # target columns per GEMM tile
    src_tile = 16_384  # source rows per GEMM tile (bounds D to ~128 MB)

    def _refine(a: np.ndarray, b: np.ndarray) -> bool:
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):  # element-ascending left folds, like the HOF
            dot += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        den = float(np.sqrt(na)) * float(np.sqrt(nb))
        if den == 0.0:  # expression: nullif -> NULL -> pair filtered out
            return False
        d = 1.0 - dot / den
        q = decimal.Decimal(repr(d)).quantize(
            decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
        )
        return float(q) <= thr

    lo = cutoff - band_eps

    def keep_fn(table):
        # applyInArrow: the group arrives as ONE pa.Table — ids/flags via
        # numpy views, the vector column reshaped straight from the Arrow
        # values buffer (the per-row tolist() of the prior applyInPandas
        # form materialized |group| x d Python floats per task and was a
        # large share of the kernel's wall time; the flat-buffer decode is
        # exact, so scored doubles are unchanged)
        import pyarrow as pa

        batch = table.combine_chunks().to_batches()[0]
        cluster = int(batch.column(batch.schema.get_field_index("cluster_id"))[0].as_py())
        ids = (
            batch.column(batch.schema.get_field_index("id"))
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        tgt = (
            batch.column(batch.schema.get_field_index("is_target"))
            .to_numpy(zero_copy_only=False)
            .astype(bool)
        )
        order = np.argsort(ids)  # ascending id == the lower-id keep rule
        ids = ids[order]
        tgt = tgt[order]
        n = len(ids)
        # this shard's targets are the max-id contiguous block; everything
        # below them is a pure scoring source from lower shards
        t0 = int(np.argmax(tgt)) if tgt.any() else n
        if not (tgt[t0:].all() and not tgt[:t0].any()):
            raise AssertionError(
                "semdedup shard contract violated: targets must be the "
                "max-id contiguous block of the (cluster, shard) group"
            )
        m = n - t0
        if m == 0:
            return pa.table(
                {
                    "id": pa.array(ids[:0], type=pa.int64()),
                    "cluster_id": pa.array(
                        np.full(0, cluster, dtype=np.int32), type=pa.int32()
                    ),
                }
            )
        Vm = _arrow_vectors(batch, "v")[order]
        nrm = np.sqrt(np.einsum("ij,ij->i", Vm, Vm))
        zero = nrm == 0.0
        N = Vm / np.where(zero, 1.0, nrm)[:, None]
        if zero.any():
            # the expression's nullif makes zero-norm pairs NULL, which the
            # <= filter drops — NaN rows turn every comparison False on both
            # sides without a per-tile mask pass
            N[zero] = np.nan
        dropped = np.zeros(m, dtype=bool)
        for c0 in range(t0, n, chunk):
            c1 = min(c0 + chunk, n)
            col = dropped[c0 - t0:c1 - t0]  # view — writes through
            Nt = N[c0:c1]
            # Source tiles strictly below the target chunk, scored against
            # the ACTIVE (not-yet-dropped) columns only, with a ramped tile
            # size: in a dup-heavy cell nearly every target drops on the
            # first few thousand sources, so a small first tile sheds the
            # GEMM width before the big tiles run (the full-width first
            # tile dominated the kernel under the workers' pinned
            # single-thread BLAS: OMP_NUM_THREADS=1, ~4.5 GFLOP/s). Dropped
            # columns never rejoin, so the decided pair set is unchanged.
            s0 = 0
            step = 2048
            while s0 < c0:
                act = np.flatnonzero(~col)
                if act.size == 0:
                    break
                s1 = min(s0 + step, c0)
                D = N[s0:s1] @ Nt[act].T
                np.subtract(1.0, D, out=D)  # (i - s0, act_j) cos_dist
                hit = (D < lo).any(axis=0)
                band = np.abs(D - cutoff) <= band_eps
                if band.any():
                    for bi, bj in zip(*np.nonzero(band)):
                        if not hit[bj] and _refine(Vm[s0 + bi], Vm[c0 + act[bj]]):
                            hit[bj] = True
                col[act[hit]] = True
                s0 = s1
                step = min(step * 4, src_tile)
            # diagonal tile: within-chunk (i < j) pairs, active columns only
            act = np.flatnonzero(~col)
            if act.size:
                D = Nt @ Nt[act].T
                np.subtract(1.0, D, out=D)
                v = np.arange(c1 - c0)[:, None] < act[None, :]  # i < j
                hit = ((D < lo) & v).any(axis=0)
                band = (np.abs(D - cutoff) <= band_eps) & v
                if band.any():
                    for bi, bj in zip(*np.nonzero(band)):
                        if not hit[bj] and _refine(Vm[c0 + bi], Vm[c0 + act[bj]]):
                            hit[bj] = True
                col[act[hit]] = True
        keep_ids = ids[t0:][~dropped]
        return pa.table(
            {
                "id": pa.array(keep_ids, type=pa.int64()),
                "cluster_id": pa.array(
                    np.full(len(keep_ids), cluster, dtype=np.int32),
                    type=pa.int32(),
                ),
            }
        )

    w = Window.partitionBy("cluster_id").orderBy("id")
    sharded = (
        assigned.withColumn(
            "own_shard",
            ((F.row_number().over(w) - F.lit(1)) / F.lit(SEMDEDUP_SHARD_ROWS))
            .cast("int"),
        )
        .withColumn(
            "max_shard", F.max("own_shard").over(Window.partitionBy("cluster_id"))
        )
        .withColumn(
            "shard", F.explode(F.sequence(F.col("own_shard"), F.col("max_shard")))
        )
        .withColumn("is_target", F.col("shard") == F.col("own_shard"))
        .select("cluster_id", "shard", "id", "v", "is_target")
    )
    return sharded.groupBy("cluster_id", "shard").applyInArrow(
        keep_fn, schema="id bigint, cluster_id int"
    )


def _semdedup_ctes(
    n_clusters: int,
    max_cos_dist: float,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Shared CTE prefix: hash-picked centroids -> nearest-centroid
    assignment (element-ascending double fold, lowest-centroid tie-break —
    IVFIndex.build_fixed's exact contract) -> within-cluster pairs."""
    d_assign = V.sqeuclidean_sql(f"e.{vec_col}", "cent.centroid")
    d_pair = V.cosine_distance_sql(f"x.{vec_col}", f"y.{vec_col}")
    return f"""
WITH cent AS (
  SELECT centroid_id, centroid FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST({id_col} AS VARCHAR)) ASC, {id_col} ASC) - 1
             AS centroid_id,
           {vec_col} AS centroid
    FROM {table}) WHERE centroid_id < {n_clusters}
), assign AS (
  SELECT {id_col}, {vec_col}, centroid_id AS cluster_id FROM (
    SELECT e.{id_col}, e.{vec_col}, cent.centroid_id,
           row_number() OVER (PARTITION BY e.{id_col}
                              ORDER BY {d_assign} ASC, cent.centroid_id ASC) AS arn
    FROM {table} e CROSS JOIN cent) WHERE arn = 1
), pairs AS (
  SELECT x.cluster_id, x.{id_col} AS id_a, y.{id_col} AS id_b,
         round({d_pair}, 4) AS cos_dist
  FROM assign x JOIN assign y
    ON x.cluster_id = y.cluster_id AND x.{id_col} < y.{id_col}
  WHERE round({d_pair}, 4) <= {max_cos_dist}
)"""


def semdedup_pairs_sql(
    n_clusters: int = 8,
    max_cos_dist: float = 0.2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    ctes = _semdedup_ctes(n_clusters, max_cos_dist, table, id_col, vec_col)
    return f"{ctes}\nSELECT cluster_id, id_a, id_b, cos_dist FROM pairs"


def semdedup_keep_sql(
    n_clusters: int = 8,
    max_cos_dist: float = 0.2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    ctes = _semdedup_ctes(n_clusters, max_cos_dist, table, id_col, vec_col)
    return f"""{ctes}
SELECT a.{id_col} AS id, a.cluster_id
FROM assign a
WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.id_b = a.{id_col})
"""
