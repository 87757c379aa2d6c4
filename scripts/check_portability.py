"""Dev script: verify every Spark<->DuckDB portability assumption on real testdata."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb
from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.session import get_spark
from filtered_ads_vector_search_spark.functions import hashing as H
from filtered_ads_vector_search_spark.functions import vector as V
from filtered_ads_vector_search_spark.functions import text as T
from filtered_ads_vector_search_spark.operators import filters as FL
from filtered_ads_vector_search_spark.operators import dedup as DD

SF = "/root/testdata/sf0.01"
spark = get_spark(cpus=8)
spark.sparkContext.setLogLevel("ERROR")
emb = spark.read.parquet(f"{SF}/embeddings.parquet")
docs = spark.read.parquet(f"{SF}/documents.parquet")

con = duckdb.connect()
con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'")
con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")

fails = []


def check(name, spark_rows, duck_rows):
    s = sorted(map(tuple, spark_rows))
    d = sorted(map(tuple, duck_rows))
    ok = s == d
    if not ok:
        fails.append(name)
        print(f"FAIL {name}")
        for i, (a, b) in enumerate(zip(s, d)):
            if a != b:
                print("  first diff:", a, "vs", b)
                break
        print("  lens:", len(s), len(d))
    else:
        print(f"ok   {name} ({len(s)} rows)")


# 1. portable hash
srows = emb.select("vec_id", H.portable_hash_col(F.col("vec_id"), 7).alias("h")).collect()
drows = con.sql(f"SELECT vec_id, {H.portable_hash_sql('vec_id', 7)} AS h FROM embeddings").fetchall()
check("portable_hash", [(r[0], r[1]) for r in srows], drows)

# 2. str hash
srows = docs.select("doc_id", H.str_hash_col(F.col("text")).alias("h")).collect()
drows = con.sql(f"SELECT doc_id, {H.str_hash_sql('text')} AS h FROM documents").fetchall()
check("str_hash", [(r[0], r[1]) for r in srows], drows)

# 3. rating bucket + split
srows = emb.select(
    "vec_id",
    FL.rating_bucket_col(F.col("vec_id")).alias("b"),
    FL.is_query_col(F.col("vec_id")).alias("q"),
).collect()
drows = con.sql(
    f"SELECT vec_id, {FL.rating_bucket_sql('vec_id')} AS b, {FL.is_query_sql('vec_id')} AS q FROM embeddings"
).fetchall()
check("bucket_split", [(r[0], r[1], r[2]) for r in srows], drows)
qfrac = sum(1 for r in srows if r[2]) / len(srows)
print("   query fraction:", qfrac)
from collections import Counter

print("   buckets:", Counter(r[1] for r in srows))

# 4. distances (self-pairs sample): sqeuclidean/inner/cosine/hamming rounded 6
pairs_s = (
    emb.alias("a")
    .crossJoin(emb.alias("b"))
    .filter((F.col("a.vec_id") < 5) & (F.col("b.vec_id").between(5, 15)))
    .select(
        F.col("a.vec_id").alias("ia"),
        F.col("b.vec_id").alias("ib"),
        F.round(V.vec_sqeuclidean(F.col("a.embedding"), F.col("b.embedding")), 6).alias("sq"),
        F.round(V.vec_inner_product(F.col("a.embedding"), F.col("b.embedding")), 6).alias("ip"),
        F.round(V.vec_cosine_distance(F.col("a.embedding"), F.col("b.embedding")), 6).alias("cd"),
        V.vec_sign_hamming(F.col("a.embedding"), F.col("b.embedding")).alias("hm"),
    )
    .collect()
)
drows = con.sql(
    f"""SELECT a.vec_id ia, b.vec_id ib,
    round({V.sqeuclidean_sql('a.embedding', 'b.embedding')}, 6) sq,
    round({V.inner_product_sql('a.embedding', 'b.embedding')}, 6) ip,
    round({V.cosine_distance_sql('a.embedding', 'b.embedding')}, 6) cd,
    {V.sign_hamming_sql('a.embedding', 'b.embedding')} hm
    FROM embeddings a, embeddings b WHERE a.vec_id < 5 AND b.vec_id BETWEEN 5 AND 15"""
).fetchall()
check("distances", [tuple(r) for r in pairs_s], drows)

# 5. sq8 quantize with fixed bounds
srows = emb.select("vec_id", V.sq8_quantize(F.col("embedding"), -3.0, 3.0).alias("q")).collect()
drows = con.sql(
    f"SELECT vec_id, {V.sq8_quantize_sql('embedding', -3.0, 3.0)} AS q FROM embeddings"
).fetchall()
check("sq8", [(r[0], tuple(r[1])) for r in srows], [(r[0], tuple(r[1])) for r in drows])

# 6. text: tokens count, shingles, punct, stopword, quality, lang, fingerprint
srows = docs.select(
    "doc_id",
    T.token_count(F.col("text")).alias("tc"),
    F.round(F.coalesce(T.punct_ratio(F.col("text")), F.lit(0.0)), 6).alias("pr"),
    F.round(F.coalesce(T.stopword_ratio(F.col("text")), F.lit(0.0)), 6).alias("sr"),
    F.round(T.quality_score(F.col("text")), 6).alias("qs"),
    T.lang_predict(F.col("text")).alias("lang"),
    T.fingerprint(F.col("text")).alias("fp"),
).collect()
drows = con.sql(
    f"""SELECT doc_id, {T.token_count_sql('text')} tc,
    round(coalesce({T.punct_ratio_sql('text')}, 0.0), 6) pr,
    round(coalesce({T.stopword_ratio_sql('text')}, 0.0), 6) sr,
    round({T.quality_score_sql('text')}, 6) qs,
    {T.lang_predict_sql('text')} lang,
    {T.fingerprint_sql('text')} fp
    FROM documents"""
).fetchall()
check("text_fns", [tuple(r) for r in srows], drows)

# 7. shingles equality (sorted). Filter (not limit) on both engines so the
# compared row sets are identical and deterministic.
srows = (
    docs.filter(F.col("doc_id") < 50)
    .select("doc_id", F.array_sort(T.word_shingles(F.col("text"), 3)).alias("sh"))
    .collect()
)
drows = con.sql(
    f"SELECT doc_id, list_sort({T.word_shingles_sql('text', 3)}) sh FROM documents WHERE doc_id < 50 ORDER BY doc_id"
).fetchall()
assert len(srows) == len(drows), (len(srows), len(drows))
check(
    "shingles",
    [(r[0], tuple(r[1])) for r in srows],
    [(r[0], tuple(r[1])) for r in drows],
)

# 8. percentile vs quantile_cont
srow = (
    emb.select(F.explode("embedding").alias("x"))
    .select(F.col("x").cast("double").alias("x"))
    .agg(
        F.round(F.percentile("x", F.lit(0.005)), 6).alias("lo"),
        F.round(F.percentile("x", F.lit(0.995)), 6).alias("hi"),
    )
    .collect()
)
drow = con.sql(
    "SELECT round(quantile_cont(CAST(x AS DOUBLE), 0.005), 6) lo, round(quantile_cont(CAST(x AS DOUBLE), 0.995), 6) hi FROM (SELECT unnest(embedding) x FROM embeddings)"
).fetchall()
check("percentile", [tuple(srow[0])], drow)

# 9. simhash
srows = (
    docs.filter(F.col("doc_id") < 30)
    .select("doc_id", DD.simhash_col(F.col("text")).alias("s"))
    .collect()
)
drows = con.sql(
    f"SELECT doc_id, {DD.simhash_sql('text')} s FROM documents WHERE doc_id < 30 ORDER BY doc_id"
).fetchall()
assert len(srows) == len(drows), (len(srows), len(drows))
check("simhash", [tuple(r) for r in srows], drows)

# 10. minhash signature
srows = (
    docs.filter(F.col("doc_id") < 20)
    .select("doc_id", DD.minhash_signature_col(F.col("text")).alias("sig"))
    .collect()
)
sh = T.word_shingles_sql("text", 3)
sig_exprs = ", ".join(
    f"list_aggregate(list_transform(hashes, x -> (x * {a} + {b}) % {DD.P}), 'min')"
    for a, b in DD.minhash_constants()
)
drows = con.sql(
    f"""WITH nz AS (SELECT doc_id, list_transform({sh}, s -> {H.str_hash_sql('s')} % {DD.P}) hashes FROM documents WHERE doc_id < 20)
    SELECT doc_id, [{sig_exprs}] sig FROM nz ORDER BY doc_id"""
).fetchall()
assert len(srows) == len(drows), (len(srows), len(drows))
check(
    "minhash_sig",
    [(r[0], tuple(r[1])) for r in srows],
    [(r[0], tuple(r[1])) for r in drows],
)

print()
print("FAILURES:", fails if fails else "none")
spark.stop()
