"""Lexical relevance search: BM25 scoring + reciprocal-rank-fusion hybrid
(beyond-reference — the lexical half of a hybrid retrieval stack next to the
engine's vector tiers; the reference searches embeddings only).

BM25 is the classic probabilistic relevance function (public literature:
Robertson & Zaragoza, "The Probabilistic Relevance Framework: BM25 and
Beyond"; the idf form below is the Lucene-style non-negative variant):

  score(q, d) = Σ_{t ∈ q} idf(t) * tf(t,d) * (k1 + 1)
                           / (tf(t,d) + k1 * (1 - b + b * |d|/avgdl))
  idf(t) = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))

Spark shape — everything is equi-joins and map-combinable aggregates:
  * doc_terms (doc_id, term, tf) + doc lengths: one scan, explode, groupBy;
  * term_stats (term, df): groupBy over doc_terms — vocabulary-sized;
  * query terms join term_stats (broadcast: queries are small), then join
    doc_terms on term — the corpus-sized relation only ever streams through
    one hash join on the term key;
  * per-(query, doc) scores: groupBy + an ORDER-FIXED fold (see below);
  * per-query top-k via the rank window (WindowGroupLimit pushdown).

At 100 TB: doc_terms is the inverted-index relation (write it bucketed by
term to co-locate the query join); term_stats is vocabulary-sized (broadcast
or pre-joined); no crossJoin anywhere.

Cross-engine determinism (the DuckDB oracle hashes VALUES): floating-point
addition is not associative, so the per-(query, doc) sum folds a
term-ASCENDING sorted list in both engines (Spark: array_sort(collect_list)
+ aggregate; DuckDB: list(... ORDER BY term) + list fold), and each
per-term score is rounded to 9 decimals first so a last-ulp difference in
the two engines' ln() cannot survive into the sum. Output scores round to 4.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens, tokens_sql
from ..materialize import materialize, release
from .index_layout import (
    _batch_root,
    _commit_compaction,
    _fold_batches,
    _has_commit_marker,
    _read_layout,
    _read_sidecar,
    _snapshot_batches,
)

__all__ = [
    "doc_terms",
    "bm25_search",
    "bm25_search_sql",
    "write_term_index",
    "append_to_term_index",
    "compact_term_index",
    "bm25_search_index",
    "rrf_fuse",
    "rrf_fuse_sql",
]

K1 = 1.2
B = 0.75


def doc_terms(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, tf) over lowercase whitespace tokens — the inverted-
    index relation. One scan + explode + map-combinable groupBy."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-query BM25 top-k: ``queries`` is (query_id, query_text); returns
    (query_id, doc_id, rank, score) with score rounded to 4 decimals.
    Ranking uses the order-fixed summed score (see module docstring);
    ties break on doc_id ascending."""
    # dl (doc length) is the per-doc token count — an arithmetic identity
    # with sum(tf) over the doc's terms, so it is computed MAP-SIDE from
    # the token array instead of via a second corpus-keyed aggregate +
    # doc_id join (guide §2.4 remove shuffles outright: the dlen relation
    # and its join exchange disappear; dl rides the doc_terms groupBy key,
    # functionally dependent on doc_id). Values are bit-identical: exact
    # integer counts either way.
    toks = F.filter(
        tokens(F.lower(F.col(text_col))), lambda t: t != ""
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("_toks")
    ).filter(F.size("_toks") > 0)
    dt = (
        base.select(
            "doc_id",
            F.size("_toks").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # exact integer totals -> one deterministic division for avgdl; the
    # totals pass is map-only (no exchange) over the token arrays
    tot = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(F.size("_toks")).alias("sum_dl")
    ).collect()[0]
    if not tot["n_docs"]:  # empty corpus / no document produced a token
        return docs.sparkSession.createDataFrame(
            [], "query_id int, doc_id long, rank int, score double"
        )
    n_docs, avgdl = int(tot["n_docs"]), float(tot["sum_dl"]) / int(tot["n_docs"])

    stats = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = (
        queries.select(
            "query_id",
            F.explode(F.array_distinct(tokens(F.lower(F.col("query_text"))))).alias(
                "term"
            ),
        )
        .filter(F.col("term") != "")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_comp = (F.col("tf") * (F.lit(k1) + F.lit(1.0))) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    term_score = F.round(idf * tf_comp, 9)
    scored = (
        F.broadcast(qterms)
        .join(dt, "term")
        .join(F.broadcast(stats), "term")
        .select("query_id", "doc_id", "term", term_score.alias("ts"))
    )
    # order-fixed fold: sort per-(query, doc) term scores by term, then sum
    # ascending — the same doubles in the same order as the DuckDB twin
    summed = scored.groupBy("query_id", "doc_id").agg(
        F.expr(
            "aggregate(array_sort(collect_list(named_struct('t', term, 's', ts))), "
            "0.0D, (acc, x) -> acc + x.s)"
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", F.round("score", 4).alias("score"))
    )


def bm25_search_sql(
    docs_sql: str,
    queries_sql: str,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    id_expr: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """DuckDB twin: same relational derivation, same order-fixed fold (list
    aggregated ORDER BY term, summed by list_aggregate is not order-fixed —
    so the fold is an explicit list reduce over the ordered list)."""
    return f"""
WITH docs AS ({docs_sql}),
qs AS ({queries_sql}),
dt AS (
  SELECT {id_expr} AS doc_id, term, count(*) AS tf FROM (
    SELECT {id_expr}, unnest({tokens_sql(f'lower({text_expr})')}) AS term FROM docs
  ) WHERE term != '' GROUP BY 1, 2
),
dlen AS (SELECT doc_id, sum(tf) AS dl FROM dt GROUP BY 1),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dlen),
stats AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
qterms AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, unnest({tokens_sql('lower(query_text)')}) AS term FROM qs
  ) WHERE term != ''
),
scored AS (
  SELECT q.query_id, dt.doc_id, dt.term,
         round(
           ln(1.0 + (CAST(tot.n_docs AS DOUBLE) - s.df + 0.5) / (s.df + 0.5))
           * (dt.tf * ({k1} + 1.0))
           / (dt.tf + {k1} * (1.0 - {b} + {b} * dl.dl
                              / (CAST(tot.sum_dl AS DOUBLE) / tot.n_docs))),
           9) AS ts
  FROM qterms q
  JOIN dt ON dt.term = q.term
  JOIN dlen dl ON dl.doc_id = dt.doc_id
  JOIN stats s ON s.term = q.term
  CROSS JOIN tot
),
summed AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(0.0, list(ts ORDER BY term ASC)),
                     (acc, x) -> acc + x) AS score
  FROM scored GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM summed
)
SELECT query_id, doc_id, rank, round(score, 4) AS score
FROM ranked WHERE rank <= {k}
"""


TERM_BUCKETS = 64


def _term_bucket(term, n_buckets: int):
    return F.crc32(term.cast("string")) % F.lit(n_buckets)


def write_term_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = TERM_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the lexical index as a layout (the BM25 analog of the ANN
    tiers' bucketed layouts): the inverted-index relation partitioned by a
    hash bucket of the term — a query's terms map to a handful of buckets,
    so the search scan PRUNES to those partition directories instead of
    reading the whole posting list relation — plus the doc-length table,
    the vocabulary-sized df stats, and one meta row (n_docs, sum_dl) so
    searches touch no corpus-sized relation outside the pruned scan."""
    dt = doc_terms(docs, id_col, text_col)
    dt.withColumn("term_bucket", _term_bucket(F.col("term"), n_buckets)).write.mode(
        "overwrite"
    ).partitionBy("term_bucket").parquet(f"{path}/terms")
    dlen = dt.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dlen.write.mode("overwrite").parquet(f"{path}/doclen")
    dt.groupBy("term").agg(F.count(F.lit(1)).alias("df")).write.mode(
        "overwrite"
    ).parquet(f"{path}/stats")
    spark = docs.sparkSession
    tot = dlen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    spark.createDataFrame(
        [(int(tot["n_docs"]), int(tot["sum_dl"] or 0), int(n_buckets))],
        "n_docs long, sum_dl long, n_buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def append_to_term_index(
    spark,
    path: str,
    new_docs: DataFrame,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Incremental lexical-index maintenance (the BM25 analog of the ANN
    tiers' append_to_layout): shingle-free postings, doc lengths, per-batch
    df stats and a per-batch meta row for the NEW docs only. df and the
    corpus totals are ADDITIVE over disjoint doc sets, so the search path
    aggregates base + batches at read time and needs no global rewrite.

    batch_id=None appends into the base directories (caller-driven adds);
    with a batch_id (streaming foreachBatch) the whole delta is written
    mode("overwrite") under a batchId-derived subdirectory — replays rewrite
    identical content: idempotent per batch id. `compact_term_index` folds
    batches back into the base. Returns postings rows appended."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    n_buckets = int(meta["n_buckets"])
    # materialized: tot.collect, the row count, and three writes would
    # otherwise re-tokenize/re-aggregate new_docs ~5x — this sits in the
    # streaming foreachBatch hot path
    dt = materialize(
        doc_terms(new_docs, id_col, text_col)
        .withColumn("term_bucket", _term_bucket(F.col("term"), n_buckets))
    )
    dlen = materialize(dt.groupBy("doc_id").agg(F.sum("tf").alias("dl")))
    stats = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tot = dlen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    meta_df = spark.createDataFrame(
        [(int(tot["n_docs"] or 0), int(tot["sum_dl"] or 0), n_buckets)],
        "n_docs long, sum_dl long, n_buckets int",
    )
    if batch_id is None:
        root, mode = path, "append"
    else:
        root, mode = _batch_root(path, batch_id), "overwrite"
    n = dt.count()
    dt.write.mode(mode).partitionBy("term_bucket").parquet(f"{root}/terms")
    dlen.write.mode(mode).parquet(f"{root}/doclen")
    stats.write.mode(mode).parquet(f"{root}/stats")
    meta_df.coalesce(1).write.mode(mode).parquet(f"{root}/meta")
    release(dt, dlen)
    return n


_TERM_INDEX_RELATIONS = ("terms", "doclen", "stats", "meta")


def compact_term_index(spark, path: str, files_per_bucket: int = 1) -> int:
    """Fold per-batch appends back into the base layout: merge doclen/stats/
    meta (additive aggregates) into fresh base tables, rewrite the postings
    relation to ~files_per_bucket files per bucket, and drop the batch
    directories (same quiesced-stream caveats as index_layout.compact_layout).

    All four relations are folded from ONE frozen batch snapshot
    (`batches/` renamed to `batches__compacting/` up front — readers union
    both, so every batch row stays visible exactly once), staged under
    `__compact_tmp` dirs, and swapped in by a single marker-file-guarded
    commit shared with the terms rewrite. A crash before the marker leaves
    base + snapshot untouched and a retry recomputes from the same state —
    re-running can never double-fold doc lengths or df into the base; a
    crash during the commit is finished idempotently by the next call.
    Returns the merged postings row count."""
    if _has_commit_marker(spark, path):
        # previous run crashed mid-commit; its tmps are complete — finish it
        _commit_compaction(spark, path, _TERM_INDEX_RELATIONS)
    _snapshot_batches(spark, path)

    def _stage(df: DataFrame, name: str) -> None:
        df.write.mode("overwrite").parquet(f"{path}/{name}__compact_tmp")

    _stage(_read_sidecar(spark, path, "doclen"), "doclen")
    _stage(
        _read_sidecar(spark, path, "stats")
        .groupBy("term")
        .agg(F.sum("df").alias("df")),
        "stats",
    )
    meta = _read_sidecar(spark, path, "meta").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_dl").alias("sum_dl"),
        F.max("n_buckets").alias("n_buckets"),
    )
    _stage(meta.coalesce(1), "meta")
    # stages terms__compact_tmp, then commits ALL four staged relations,
    # drops the snapshot, and refreshes cached listings
    return _fold_batches(
        spark,
        path,
        "terms",
        id_col="doc_id",
        bucket_col="term_bucket",
        files_per_bucket=files_per_bucket,
        staged_names=("doclen", "stats", "meta"),
    ).count()


def bm25_search_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 top-k against a written term-index layout. Identical scores and
    ranking to bm25_search (same order-fixed fold); the posting-list scan is
    partition-pruned to the query terms' buckets (asserted in tests), the
    df stats join is vocabulary-sized and broadcast, and only the pruned
    postings + the doc-length table stream. Reads union the base with any
    per-batch appends; df/meta are additive over the disjoint doc sets, so
    read-side sums reconstruct the global stats exactly."""
    meta = (
        _read_sidecar(spark, path, "meta")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_dl").alias("sum_dl"),
            F.max("n_buckets").alias("n_buckets"),
        )
        .collect()[0]
    )
    if not meta["n_docs"]:
        return spark.createDataFrame(
            [], "query_id int, doc_id long, rank int, score double"
        )
    n_docs = int(meta["n_docs"])
    avgdl = float(meta["sum_dl"]) / n_docs
    n_buckets = int(meta["n_buckets"])

    qterms = (
        queries.select(
            "query_id",
            F.explode(F.array_distinct(tokens(F.lower(F.col("query_text"))))).alias(
                "term"
            ),
        )
        .filter(F.col("term") != "")
    )
    buckets = [
        r["b"]
        for r in qterms.select(
            _term_bucket(F.col("term"), n_buckets).alias("b")
        ).distinct().collect()
    ]
    dt = _read_layout(spark, path, "terms").filter(
        F.col("term_bucket").isin(buckets)  # partition pruning at the scan
    )
    dlen = _read_sidecar(spark, path, "doclen")
    stats = (
        _read_sidecar(spark, path, "stats")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )

    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_comp = (F.col("tf") * (F.lit(k1) + F.lit(1.0))) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    term_score = F.round(idf * tf_comp, 9)
    scored = (
        F.broadcast(qterms)
        .join(dt, "term")
        .join(dlen, "doc_id")
        .join(F.broadcast(stats.join(qterms.select("term").distinct(), "term")), "term")
        .select("query_id", "doc_id", "term", term_score.alias("ts"))
    )
    summed = scored.groupBy("query_id", "doc_id").agg(
        F.expr(
            "aggregate(array_sort(collect_list(named_struct('t', term, 's', ts))), "
            "0.0D, (acc, x) -> acc + x.s)"
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", F.round("score", 4).alias("score"))
    )


def rrf_fuse(
    a: DataFrame, b: DataFrame, k: int = 10, c: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion (public literature: Cormack, Clarke & Büttcher)
    of two ranked lists with columns (query_id, doc_id, rank):
    rrf(d) = Σ_lists 1/(c + rank_d). Docs missing from one list contribute
    only the other's term — the standard hybrid lexical+vector combiner.
    Rational arithmetic on small integers: 1/(c+rank) is bit-identical
    across engines, and the two-term sum has a fixed order (a then b)."""
    ra = a.select("query_id", "doc_id", F.col("rank").alias("rank_a"))
    rb = b.select("query_id", "doc_id", F.col("rank").alias("rank_b"))
    fused = (
        ra.join(rb, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(float(c)) + F.col("rank_a")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(float(c)) + F.col("rank_b")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", F.round("rrf", 6).alias("rrf"))
    )


def rrf_fuse_sql(a_sql: str, b_sql: str, k: int = 10, c: int = 60) -> str:
    return f"""
WITH a AS ({a_sql}), b AS ({b_sql}),
fused AS (
  SELECT coalesce(a.query_id, b.query_id) AS query_id,
         coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(1.0 / ({c} + a.rank), 0.0)
         + coalesce(1.0 / ({c} + b.rank), 0.0) AS rrf
  FROM a FULL OUTER JOIN b ON a.query_id = b.query_id AND a.doc_id = b.doc_id
),
ranked AS (
  SELECT query_id, doc_id, rrf,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, doc_id, rank, round(rrf, 6) AS rrf FROM ranked WHERE rank <= {k}
"""
