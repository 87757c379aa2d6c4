"""Statistical LM scoring and importance-resampling data selection.

Two curation operators a large-scale training-data pipeline runs between
dedup and packing (beyond-reference brief; the reference engine has no text
layer — its corpus ops live in download_dataset/utils.py:202-212 token
filtering, which `functions.text` already mirrors):

* ``ngram_lm_perplexity`` — CCNet-style perplexity scoring (Wenzek et al.,
  "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl Data",
  LREC 2020): train an add-one-smoothed bigram LM on the corpus itself, score
  every document by average negative log-likelihood; low-perplexity ≈ fluent.
* ``dsir_weights`` / ``dsir_resample`` — Data Selection via Importance
  Resampling (Xie et al., NeurIPS 2023): hashed bigram features, per-feature
  log importance ratio between a target slice and the raw corpus, per-document
  summed log-weight, then Gumbel-top-k resampling (top-k of logweight + Gumbel
  noise IS an importance-weighted sample without replacement).

Everything is exact-arithmetic DataFrame ops (explode -> map-combinable
groupBy -> equi-join); no UDFs. Every "random" draw is `functions.hashing`
portable arithmetic so the DuckDB twins are bit-comparable and results are
partition-count invariant.

Scale notes (100 TB):
* LM counts are two map-combinable groupBys over exploded tokens/bigrams; the
  score join is a shuffle equi-join on the bigram/unigram key. Vocab tables
  are |V|-sized, not corpus-sized.
* DSIR's feature space is a FIXED ``n_buckets`` (default 4096), so both count
  relations collapse to <=n_buckets rows and the score join broadcasts — the
  corpus is touched exactly twice (featurize, score), never shuffled on a
  corpus-sized key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.hashing import P, portable_hash_col, portable_hash_sql
from ..materialize import materialize

__all__ = [
    "ngram_lm_perplexity",
    "ngram_lm_perplexity_sql",
    "dsir_weights",
    "dsir_weights_sql",
    "dsir_resample",
    "dsir_resample_sql",
]

# DSIR defaults: bucket count for hashed features, add-alpha smoothing.
DSIR_BUCKETS = 4096
DSIR_ALPHA = 1.0
DSIR_SEED = 271_828


def _bigrams(text: Column) -> Column:
    return T.word_ngrams(F.lower(text), 2)


def _bigrams_sql(text: str) -> str:
    return T.word_ngrams_sql(f"lower({text})", 2)


# ---------------------------------------------------------------------------
# CCNet-style n-gram LM perplexity
# ---------------------------------------------------------------------------


def ngram_lm_perplexity(
    documents: DataFrame, text_col: str = "text", round_digits: int = 4
) -> DataFrame:
    """Score every document with a corpus-trained add-one bigram LM.

    P(w2 | w1) = (C(w1 w2) + 1) / (C(w1) + V)  with V = unigram type count;
    avg_nll = -mean(ln P) over the document's bigram occurrences,
    ppl = exp(avg_nll). Documents with < 2 tokens have no bigrams and are
    excluded (they carry no LM evidence).

    Train and score are the same two exploded relations: bigram counts and
    unigram counts (both map-combinable groupBys), then one equi-join per
    count table. The final per-doc aggregate rounds AFTER averaging; the
    summed terms are O(1e1) magnitude so double addition order affects at
    most ~1e-13 — far inside round_digits.
    """
    lowered = documents.select("doc_id", F.lower(F.col(text_col)).alias("lt"))
    # the unigram relation is materialized ONCE:
    # vocab size V is then a scalar aggregate over the checkpointed rows,
    # broadcast back as a one-row relation. This keeps the one-corpus-pass
    # property (a separate aggregate branch re-ran the whole tokenize+
    # groupBy subplan — exchange reuse does not fire) WITHOUT the empty-
    # partitionBy() global window it replaces, which funneled the entire
    # unigram vocabulary through a single task — a straggler seam at
    # web-scale vocabularies (guide §2.5/§5). Same integer V either way.
    uni = materialize(
        lowered.select(F.explode(T.tokens(F.col("lt"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    uni = uni.crossJoin(F.broadcast(vocab))
    big = (
        lowered.select(F.explode(_bigrams(F.col("lt"))).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    ex = lowered.select(
        "doc_id", F.explode(_bigrams(F.col("lt"))).alias("bg")
    ).withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
    scored = (
        ex.join(big, "bg")
        .join(uni, ex["w1"] == uni["w"])
        .select(
            "doc_id",
            F.log(
                (F.col("c2") + F.lit(1.0))
                / (F.col("c1") + F.col("v").cast("double"))
            ).alias("logp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg("logp"), round_digits).alias("avg_nll"),
            F.round(F.exp(-F.avg("logp")), round_digits).alias("ppl"),
        )
        .select("doc_id", "n_bigrams", "avg_nll", "ppl")
    )


def ngram_lm_perplexity_sql(
    table: str = "documents", round_digits: int = 4
) -> str:
    toks = T.tokens_sql("lt")
    bgs = _bigrams_sql("text")
    return f"""
WITH lowered AS (
  SELECT doc_id, lower(text) AS lt, lower(text) AS text FROM {table}
),
uni AS (
  SELECT w, count(*) AS c1 FROM (
    SELECT unnest({toks}) AS w FROM lowered
  ) GROUP BY w
),
vocab AS (SELECT count(*) AS v FROM uni),
big AS (
  SELECT bg, count(*) AS c2 FROM (
    SELECT unnest({bgs}) AS bg FROM lowered
  ) GROUP BY bg
),
ex AS (
  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1
  FROM (SELECT doc_id, unnest({bgs}) AS bg FROM lowered)
),
scored AS (
  SELECT ex.doc_id,
         ln((big.c2 + 1.0) / (uni.c1 + CAST(vocab.v AS DOUBLE))) AS logp
  FROM ex
  JOIN big USING (bg)
  JOIN uni ON ex.w1 = uni.w
  CROSS JOIN vocab
)
SELECT doc_id,
       count(*) AS n_bigrams,
       round(-avg(logp), {round_digits}) AS avg_nll,
       round(exp(-avg(logp)), {round_digits}) AS ppl
FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# DSIR: hashed-feature importance weights + Gumbel-top-k resampling
# ---------------------------------------------------------------------------


def _featurize(documents: DataFrame, text_col: str, n_buckets: int) -> DataFrame:
    """(doc_id, lang-ish metadata passthrough, bucket) — one row per bigram
    OCCURRENCE; bucket = portable md5 hash of the bigram mod n_buckets."""
    from ..functions.hashing import str_hash_col

    return documents.select(
        "doc_id",
        "lang",
        F.explode(_bigrams(F.col(text_col))).alias("bg"),
    ).withColumn(
        "bucket", F.pmod(str_hash_col(F.col("bg")), F.lit(n_buckets))
    )


def _featurize_sql(table: str, n_buckets: int) -> str:
    from ..functions.hashing import str_hash_sql

    bgs = _bigrams_sql("text")
    return f"""
  SELECT doc_id, lang,
         (({str_hash_sql('bg')}) % {n_buckets} + {n_buckets}) % {n_buckets} AS bucket
  FROM (SELECT doc_id, lang, unnest({bgs}) AS bg FROM {table})
"""


def dsir_weights(
    documents: DataFrame,
    target_lang: str = "en",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document DSIR log importance weight against a target slice.

    Features are hashed bigram occurrences (n_buckets fixed). For feature f:
    lambda_f = ln((tgt_f + a)/(tgt_tot + a*B)) - ln((raw_f + a)/(raw_tot + a*B));
    a document's logweight is the sum of lambda over its occurrences, and
    logweight_per_feat the mean (length-normalized form). Count relations are
    <= n_buckets rows, so the score join is a broadcast; the corpus never
    shuffles on a corpus-sized key.
    """
    from ..functions.hashing import str_hash_col

    ex = _featurize(documents, text_col, n_buckets)
    # ONE map-combinable aggregate produces BOTH per-bucket counts (raw_f,
    # and tgt_f as a conditional sum) — the separate raw / tgt groupBys and
    # the corpus-wide totals pass collapsed into it (guide §2.3 "aggregate
    # before you shuffle"): the corpus is featurized ONCE for the lambda
    # table (plus once for the scoring join below) instead of three times,
    # and totals are summed from the <= n_buckets count relation instead of
    # a fourth corpus pass. The md5 feature hash runs per DISTINCT bigram
    # (vocabulary-sized, after the count aggregate) rather than per
    # occurrence — same bucket per bigram, same integer sums, identical
    # lambdas, ~|occurrences|/|vocab| x less hashing on this pass.
    bgc = documents.select(
        "lang", F.explode(_bigrams(F.col(text_col))).alias("bg")
    ).groupBy("bg").agg(
        F.count(F.lit(1)).alias("raw_n"),
        F.sum((F.col("lang") == target_lang).cast("long")).alias("tgt_n"),
    )
    counts = (
        bgc.withColumn(
            "bucket", F.pmod(str_hash_col(F.col("bg")), F.lit(n_buckets))
        )
        .groupBy("bucket")
        .agg(F.sum("raw_n").alias("raw_f"), F.sum("tgt_n").alias("tgt_f"))
    )
    # totals as a GLOBAL window over the counts relation, not a separate
    # aggregate branch: a second branch re-runs the whole featurize+groupBy
    # subplan (exchange reuse does not fire across the differently-pruned
    # aggregates — observed in the r11 plan), while the window is one
    # single-partition pass over the <= n_buckets rows already in hand.
    # Exact integer sums either way.
    w_all = Window.partitionBy()
    counts = counts.select(
        "bucket", "raw_f", "tgt_f",
        F.sum("raw_f").over(w_all).alias("raw_tot"),
        F.sum("tgt_f").over(w_all).alias("tgt_tot"),
    )
    lam = (
        counts
        .select(
            "bucket",
            (
                F.log(
                    (F.col("tgt_f") + F.lit(alpha))
                    / (F.col("tgt_tot") + F.lit(alpha * n_buckets))
                )
                - F.log(
                    (F.col("raw_f") + F.lit(alpha))
                    / (F.col("raw_tot") + F.lit(alpha * n_buckets))
                )
            ).alias("lam"),
        )
    )
    return (
        ex.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("lam"), round_digits).alias("logweight"),
            F.round(F.avg("lam"), round_digits).alias("logweight_per_feat"),
        )
        .select("doc_id", "n_feats", "logweight", "logweight_per_feat")
    )


def _dsir_weights_cte(
    table: str, target_lang: str, n_buckets: int, alpha: float, round_digits: int
) -> str:
    return f"""
ex AS ({_featurize_sql(table, n_buckets)}),
raw AS (SELECT bucket, count(*) AS raw_f FROM ex GROUP BY bucket),
tgt AS (SELECT bucket, count(*) AS tgt_f FROM ex WHERE lang = '{target_lang}' GROUP BY bucket),
totals AS (
  SELECT count(*) AS raw_tot,
         sum(CASE WHEN lang = '{target_lang}' THEN 1 ELSE 0 END) AS tgt_tot
  FROM ex
),
lam AS (
  SELECT raw.bucket,
         ln((coalesce(tgt.tgt_f, 0) + {alpha}) / (totals.tgt_tot + {alpha * n_buckets}))
         - ln((raw.raw_f + {alpha}) / (totals.raw_tot + {alpha * n_buckets})) AS lam
  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN totals
),
weights AS (
  SELECT doc_id,
         count(*) AS n_feats,
         round(sum(lam), {round_digits}) AS logweight,
         round(avg(lam), {round_digits}) AS logweight_per_feat
  FROM ex JOIN lam USING (bucket) GROUP BY doc_id
)"""


def dsir_weights_sql(
    table: str = "documents",
    target_lang: str = "en",
    n_buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
    round_digits: int = 6,
) -> str:
    cte = _dsir_weights_cte(table, target_lang, n_buckets, alpha, round_digits)
    return f"WITH {cte}\nSELECT * FROM weights"


def _gumbel(doc_id: Column) -> Column:
    """Deterministic Gumbel(0,1) noise from the portable doc_id hash:
    u = (h + 0.5) / P in (0,1), g = -ln(-ln(u))."""
    u = (portable_hash_col(doc_id, seed=DSIR_SEED) + F.lit(0.5)) / F.lit(float(P))
    return -F.log(-F.log(u))


def _gumbel_sql(expr: str) -> str:
    u = f"(({portable_hash_sql(expr, seed=DSIR_SEED)}) + 0.5) / {float(P)}"
    return f"(-ln(-ln({u})))"


def dsir_resample(
    documents: DataFrame,
    n_keep: int = 100,
    target_lang: str = "en",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
) -> DataFrame:
    """Importance-resample n_keep documents without replacement: top-k of
    (logweight_per_feat + Gumbel noise) — the Gumbel-top-k trick is exactly
    sampling w/o replacement with probability proportional to exp(logweight).
    Noise is a pure hash of doc_id, so the draw is seeded and reproducible.
    The rank window runs over the doc-level weight relation (already one row
    per doc), not the corpus text."""
    w = dsir_weights(
        documents, target_lang, text_col, n_buckets, alpha, round_digits=6
    )
    keyed = w.withColumn(
        "gumbel_key",
        F.round(F.col("logweight_per_feat") + _gumbel(F.col("doc_id")), 6),
    )
    win = Window.orderBy(F.col("gumbel_key").desc(), F.col("doc_id").asc())
    return (
        keyed.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= n_keep)
        .select("rnk", "doc_id", "logweight_per_feat", "gumbel_key")
    )


def dsir_resample_sql(
    table: str = "documents",
    n_keep: int = 100,
    target_lang: str = "en",
    n_buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
) -> str:
    cte = _dsir_weights_cte(table, target_lang, n_buckets, alpha, round_digits=6)
    g = _gumbel_sql("doc_id")
    return f"""
WITH {cte},
keyed AS (
  SELECT doc_id, logweight_per_feat,
         round(logweight_per_feat + {g}, 6) AS gumbel_key
  FROM weights
)
SELECT * FROM (
  SELECT row_number() OVER (ORDER BY gumbel_key DESC, doc_id ASC) AS rnk,
         doc_id, logweight_per_feat, gumbel_key
  FROM keyed
) WHERE rnk <= {n_keep}
"""
