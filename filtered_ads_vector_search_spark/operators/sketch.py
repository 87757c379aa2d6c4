"""Count-min sketch frequency estimation (Cormode & Muthukrishnan 2005).

The bounded-state path for term-frequency questions at 100 TB: the sketch is
a fixed d x w counter grid (default 4 x 1024 = 4096 longs TOTAL, independent
of vocabulary size), built with one map-combinable groupBy over a d-way
row expansion of the exploded tokens. Estimates are the min over d hashed
cells and can only OVERcount (never under) — the property the tests assert.

Every hash is `functions.hashing` portable arithmetic over the md5-derived
term hash, so the sketch an oracle builds in DuckDB is bit-identical to the
Spark one: estimation queries are fully hash-checkable despite being
approximate with respect to the TRUE counts.

Scale shape: the corpus is touched once (explode -> d-way expand ->
groupBy(row, cell)); the sketch relation (<= d*w rows) broadcasts into any
estimation join. Nothing vocabulary-sized ever shuffles unless the caller
explicitly asks for the exact-comparison audit form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.hashing import portable_hash_col, portable_hash_sql, str_hash_col, str_hash_sql
from ..materialize import materialize

__all__ = [
    "cms_build",
    "cms_heavy_hitters",
    "cms_heavy_hitters_sql",
    "hll_distinct",
    "hll_distinct_sql",
]

CMS_DEPTH = 4
CMS_WIDTH = 1024

# HyperLogLog: m = 64 registers (b = 6 bucket bits); the portable hash
# yields ~20 significant bits, leaving ~14 for the rank, capped at 15.
HLL_M = 64
HLL_ALPHA = 0.709  # the standard alpha_64 bias constant
HLL_MAX_RHO = 15


def _cell(term: Column, j: int, width: int) -> Column:
    return F.pmod(portable_hash_col(str_hash_col(term), seed=j), F.lit(width))


def _cell_sql(term: str, j: int, width: int) -> str:
    h = portable_hash_sql(str_hash_sql(term), seed=j)
    return f"((({h}) % {width} + {width}) % {width})"


def cms_build(
    documents: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(row j, cell, cnt) sketch of lowercased whitespace-token frequencies.
    One explode + a depth-way expansion + one map-combinable groupBy; the
    result is <= depth*width rows regardless of corpus size."""
    ex = documents.select(
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("term")
    )
    rows = ex.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("j"), _cell(F.col("term"), j, width).alias("cell"))
                for j in range(depth)
            ])
        ).alias("rc")
    ).select("rc.j", "rc.cell")
    return rows.groupBy("j", "cell").agg(F.count(F.lit(1)).alias("cnt"))


def cms_heavy_hitters(
    documents: DataFrame,
    top_n: int = 50,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Top-N terms by count-min ESTIMATE (ties by term), with the true count
    alongside — the audit form that exposes the overestimate. est_count >=
    true_count always; est ranks can differ from true ranks under collisions,
    and that IS the measured behavior of the sketch, reproduced exactly by
    the DuckDB twin. The sketch side is bounded state; the true-count side is
    the vocab-sized aggregate and exists for the comparison, not the scale
    path (estimate-only callers join candidates against the broadcast
    sketch)."""
    # materialized once: the vocab-sized relation feeds BOTH the sketch
    # build and the probe side — without it each branch re-tokenizes the
    # corpus (exchange reuse does not fire across the two differently-
    # shaped consumers). Bounded by vocabulary size at any corpus scale.
    truth = materialize(
        documents.select(F.explode(T.tokens(F.lower(F.col(text_col)))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    # The audit form computes the vocab-sized true counts anyway, and the
    # sketch cell counts are sums of per-term counts — so build the sketch
    # FROM the truth relation (sum true_count per hashed cell) instead of
    # re-tokenizing the corpus and hashing every OCCURRENCE d times
    # (guide §2.3 aggregate-before-you-expand: one corpus pass instead of
    # two, and the d-way md5/portable-hash expansion runs per TERM, not per
    # occurrence). Exact integer sums -> cell counts identical to
    # cms_build's; the standalone cms_build keeps the occurrence-stream
    # shape for estimate-only callers that never materialize a vocabulary.
    sk = (
        truth.select(
            "true_count",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cell(F.col("term"), j, width).alias("cell"),
                    )
                    for j in range(depth)
                ])
            ).alias("rc"),
        )
        .groupBy("rc.j", "rc.cell")
        .agg(F.sum("true_count").alias("cnt"))
        .select(F.col("j"), F.col("cell"), "cnt")
    )
    probes = truth.select(
        "term",
        "true_count",
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("j"), _cell(F.col("term"), j, width).alias("cell"))
                for j in range(depth)
            ])
        ).alias("rc"),
    ).select("term", "true_count", "rc.j", "rc.cell")
    est = (
        probes.join(F.broadcast(sk), ["j", "cell"])
        .groupBy("term", "true_count")
        .agg(F.min("cnt").alias("est_count"))
    )
    w = Window.orderBy(F.col("est_count").desc(), F.col("term").asc())
    return (
        est.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_n)
        .select("rnk", "term", "est_count", "true_count")
    )


def cms_heavy_hitters_sql(
    table: str = "documents",
    top_n: int = 50,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> str:
    toks = T.tokens_sql("lower(text)")
    cells = " UNION ALL ".join(
        f"SELECT term, {j} AS j, {_cell_sql('term', j, width)} AS cell FROM terms"
        for j in range(depth)
    )
    return f"""
WITH ex AS (
  SELECT unnest({toks}) AS term FROM {table}
),
terms AS (SELECT term FROM ex),
cells AS ({cells}),
sk AS (
  SELECT j, cell, count(*) AS cnt FROM cells GROUP BY j, cell
),
truth AS (
  SELECT term, count(*) AS true_count FROM ex GROUP BY term
),
probes AS (
  {" UNION ALL ".join(
      f"SELECT term, true_count, {j} AS j, {_cell_sql('term', j, width)} AS cell FROM truth"
      for j in range(depth)
  )}
),
est AS (
  SELECT term, true_count, min(cnt) AS est_count
  FROM probes JOIN sk USING (j, cell)
  GROUP BY term, true_count
)
SELECT * FROM (
  SELECT row_number() OVER (ORDER BY est_count DESC, term ASC) AS rnk,
         term, est_count, true_count
  FROM est
) WHERE rnk <= {top_n}
"""


# --- HyperLogLog distinct estimation (Flajolet et al. 2007) ------------------
#
# Same bounded-state argument as the count-min grid — HLL state is m = 64
# small integers regardless of cardinality — and the same portability
# argument: buckets and ranks derive from the md5-based portable hash, so
# the DuckDB twin builds IDENTICAL registers. Even the floating-point
# indicator sum is order-independent here: every term 2^-M_j is a dyadic
# rational with exponent <= 15, so all partial sums are exactly
# representable and addition order cannot change the total. The estimate —
# including the standard small-range linear-counting correction — is
# therefore hash-checkable despite being approximate w.r.t. the TRUE count.


def hll_distinct(
    documents: DataFrame,
    text_col: str = "text",
    m: int = HLL_M,
    round_digits: int = 4,
) -> DataFrame:
    """One-row relation: exact distinct lowercased-token count alongside the
    HLL estimate built from m registers (the audit form; estimate-only
    callers drop the exact branch — the register build is the scale path)."""
    ex = (
        documents.select(
            F.explode(T.tokens(F.lower(F.col(text_col)))).alias("t")
        )
        .select(str_hash_col(F.col("t")).alias("h"))
        .select(
            F.pmod(F.col("h"), F.lit(m)).alias("bucket"),
            # integer division — h is up to 2^60, double division is lossy
            F.expr(f"h DIV {m}").alias("rest"),
        )
    )
    rho = F.when(F.col("rest") == 0, F.lit(HLL_MAX_RHO))
    for i in range(1, HLL_MAX_RHO):
        rho = rho.when(
            F.col("rest") % F.lit(1 << i) == F.lit(1 << (i - 1)), F.lit(i)
        )
    rho = rho.otherwise(F.lit(HLL_MAX_RHO))
    regs = ex.select("bucket", rho.alias("rho")).groupBy("bucket").agg(
        F.max("rho").alias("reg")
    )
    agg = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    exact = documents.select(
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("t")
    ).agg(F.count_distinct("t").alias("n_exact"))
    total = F.col("s_present") + (F.lit(m) - F.col("n_present"))  # empty -> 2^0
    v = F.lit(m) - F.col("n_present")  # zero-valued registers
    e_raw = F.lit(HLL_ALPHA * m * m) / total
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(e_raw)
    return agg.crossJoin(F.broadcast(exact)).select(
        "n_exact",
        F.col("n_present").alias("n_registers_hit"),
        F.round(est, round_digits).alias("hll_estimate"),
    )


def hll_distinct_sql(
    table: str = "documents", m: int = HLL_M, round_digits: int = 4
) -> str:
    toks = T.tokens_sql("lower(text)")
    h = str_hash_sql("t")
    rho_cases = " ".join(
        f"WHEN rest % {1 << i} = {1 << (i - 1)} THEN {i}"
        for i in range(1, HLL_MAX_RHO)
    )
    return f"""
WITH ex AS (
  SELECT (({h}) % {m} + {m}) % {m} AS bucket,
         ({h}) // {m} AS rest
  FROM (SELECT unnest({toks}) AS t FROM {table})
),
regs AS (
  SELECT bucket,
         max(CASE WHEN rest = 0 THEN {HLL_MAX_RHO} {rho_cases}
                  ELSE {HLL_MAX_RHO} END) AS reg
  FROM ex GROUP BY bucket
),
agg AS (
  SELECT sum(power(2.0, -reg)) AS s_present, count(*) AS n_present FROM regs
),
exact AS (
  SELECT count(DISTINCT t) AS n_exact
  FROM (SELECT unnest({toks}) AS t FROM {table})
)
SELECT n_exact,
       n_present AS n_registers_hit,
       round(CASE WHEN ({HLL_ALPHA * m * m} / (s_present + ({m} - n_present)))
                       <= {2.5 * m}
                   AND ({m} - n_present) > 0
                  THEN {float(m)} * ln({float(m)} / ({m} - n_present))
                  ELSE {HLL_ALPHA * m * m} / (s_present + ({m} - n_present))
             END, {round_digits}) AS hll_estimate
FROM agg CROSS JOIN exact
"""
