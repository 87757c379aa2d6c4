"""Random-hyperplane LSH ANN tier (SURVEY.md §2 D2/D3 — second index family).

The reference ships TWO ANN indexes with different recall/latency shapes:
CAGRA (graph, GPU) and FAISS HNSW (graph, CPU) — utils_grid_search.py:586-632.
Our first analog is the IVF layout (operators/ann.py); this module is the
second: signed-random-projection LSH, the classic sublinear cosine/angular
candidate generator.

  build:  h_j(v) = sign(v . r_j) for n_bits seeded Gaussian hyperplanes ->
          one integer bucket key per table (n_tables independent keys) ->
          corpus tagged with its bucket keys (a pure narrow map; the index
          artifact is just these columns, optionally written
          partitioned-by-bucket).
  search: queries get the same keys -> candidates = union over tables of
          equal-bucket rows (equi-join per table on the bucket key, never a
          crossJoin) -> exact rerank -> per-query top-k.

Knobs: n_bits (bucket granularity: more bits = fewer collisions = faster,
lower recall), n_tables (recall boost: OR over independent tables).
At 100 TB: bucket keys are tiny ints computed in one scan; each per-table
join shuffles only on the key; candidates per query ~ corpus/2^n_bits x
n_tables.

Hyperplanes are seeded-deterministic (numpy RandomState on the driver,
embedded as literals) so builds are reproducible — the Spark analog of the
reference's seed-42 determinism (tests.py:9-10).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from . import index_layout as layout
from .topk import (
    Metric,
    _sqeuclidean_bucket_scorer,
    _tiled_fold,
    distance_col,
    scan_topk,
    topk_agg,
)

__all__ = ["LSHIndex"]


def _hyperplanes(dim: int, n_bits: int, n_tables: int, seed: int) -> np.ndarray:
    return np.random.RandomState(seed).standard_normal((n_tables, n_bits, dim))


def _all_dots_sql(vec_sql: str, flat_planes: np.ndarray) -> str:
    """All M = n_tables*n_bits hyperplane dot products in ONE fold, built as
    ONE SQL string.

    The constant plane matrix is embedded transposed (PT[i][m] = plane m,
    element i); a single ``aggregate`` over the element index carries all M
    accumulators: acc[m] += v_i * PT[i][m]. Per-plane accumulation order is
    element-ascending — bitwise identical to folding each plane
    independently, so the DuckDB oracle (one inner-product fold per plane)
    reproduces the same signs.

    Why a SQL string instead of the Column API: the plane matrix is
    dim × M literals, and each ``F.lit`` is a py4j round-trip — building the
    expression tree from Python cost ~2 s of DRIVER time per call site,
    ~10× the actual executor time at bench scale. One ``F.expr`` parse is
    milliseconds, and Catalyst constant-folds the literal matrix once.
    """
    n_planes, dim = flat_planes.shape
    pt = (
        "array("
        + ", ".join(
            "array("
            + ", ".join(repr(float(flat_planes[m][i])) + "D" for m in range(n_planes))
            + ")"
            for i in range(dim)
        )
        + ")"
    )
    return (
        f"aggregate(sequence(0, {dim - 1}), array_repeat(0.0D, {n_planes}), "
        f"(acc, i) -> zip_with(acc, {pt}[i], "
        f"(a, p) -> a + cast(`{vec_sql}`[i] as double) * p))"
    )


def _buckets_sql(dots_sql: str, n_bits: int, n_tables: int) -> str:
    """All-table bucket array from a dots expression, with the dots fold
    evaluated ONCE per row via the 1-element-array let binding (a lambda var
    can be referenced many times; a projected column referenced once gets
    inlined by CollapseProject and then re-evaluated per lambda element)."""
    bucket = (
        f"aggregate(sequence(0, {n_bits - 1}), 0L, (acc, j) -> "
        f"acc + IF(d[t * {n_bits} + j] > 0D, shiftleft(1L, j), 0L))"
    )
    return (
        f"transform(array({dots_sql}), d -> "
        f"transform(sequence(0, {n_tables - 1}), t -> {bucket}))[0]"
    )


def _query_buckets_fold(Q: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n_queries, n_tables) int64 bucket keys computed driver-side with the
    SAME element-ascending dot fold as `_all_dots_sql` (acc starts at 0.0,
    adds v_i * plane_i in ascending element order, one scalar chain per
    (query, plane)) — the signs, and therefore the buckets, are bit-identical
    to the expression path's. The elementwise numpy loop vectorizes over
    (queries x planes) but each scalar accumulator sees the identical IEEE
    operation sequence."""
    n_tables, n_bits, dim = planes.shape
    bits = _dots_tiled(Q, planes.reshape(n_tables * n_bits, dim).T) > 0.0
    weights = 1 << np.arange(n_bits, dtype=np.int64)
    return (bits.reshape(len(Q), n_tables, n_bits) * weights[None, None, :]).sum(
        axis=2
    )


def _norm_fold(M: np.ndarray) -> np.ndarray:
    """Per-row sqrt(sum x_i^2) with the element-ascending left fold —
    bit-identical to `vec_norm` (same accumulation order, and IEEE sqrt is
    correctly rounded in both numpy and the JVM)."""
    acc = np.zeros(M.shape[0], dtype=np.float64)
    for el in range(M.shape[1]):  # ascending-element left fold
        acc += M[:, el] * M[:, el]
    return np.sqrt(acc)


def _dots_tiled(Qc: np.ndarray, VT: np.ndarray) -> np.ndarray:
    """(q_chunk x n) inner products as the element-ascending left fold
    (`topk._tiled_fold`) — bit-identical to `vec_inner_product`."""
    return _tiled_fold(Qc, VT, np.multiply)


def _cosine_scorer(Q, qsel, _key, V, _extra):
    """Cosine distance with the element-ascending folds (bit-identical to
    `vec_cosine_distance_prenorm` over `vec_norm`s) plus the null mask of
    zero-norm pairs, where the expression path's nullif yields a NULL
    dist."""
    VT = np.ascontiguousarray(V.T)
    cn = _norm_fold(V)

    def chunk(c0, c1):
        Qc = Q[qsel[c0:c1]]
        denom = _norm_fold(Qc)[:, None] * cn[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            return 1.0 - _dots_tiled(Qc, VT) / denom, denom == 0.0

    return chunk


def _neg_dot_scorer(Q, qsel, _key, V, _extra):
    """Negated inner products (larger = better, so smaller-is-better after
    negation; the kernel emits them back with ``sign=-1``)."""
    VT = np.ascontiguousarray(V.T)
    return lambda c0, c1: -_dots_tiled(Q[qsel[c0:c1]], VT)


_ARROW_SCORERS = {
    "cosine": _cosine_scorer,
    "sqeuclidean": _sqeuclidean_bucket_scorer,
    "inner_product": _neg_dot_scorer,
}


def _tag_buckets(
    df: DataFrame, vec_col: str, planes: np.ndarray, prefix: str
) -> DataFrame:
    """Add one bucket column per table. The whole dots->buckets pipeline is
    ONE parsed SQL expression (per-literal Column construction costs a py4j
    round-trip each — driver time that dwarfs executor time at small scale),
    let-bound so the plane fold runs once per row; the two-step select keeps
    the bucket array materialized across its n_tables extraction references
    (CollapseProject only preserves multiply-referenced projections)."""
    n_tables, n_bits, dim = planes.shape
    buckets = _buckets_sql(
        _all_dots_sql(vec_col, planes.reshape(n_tables * n_bits, dim)), n_bits, n_tables
    )
    return df.withColumn("_buckets", F.expr(buckets)).select(
        *df.columns,
        *[F.col("_buckets")[t].alias(f"{prefix}{t}") for t in range(n_tables)],
    )


@dataclass
class LSHIndex:
    tagged: DataFrame  # corpus + bucket_0..bucket_{T-1}
    planes: np.ndarray
    metric: Metric
    n_bits: int
    n_tables: int
    build_seconds: float
    id_col: str = "vec_id"
    vec_col: str = "embedding"

    @staticmethod
    def build(
        corpus: DataFrame,
        dim: int | None = None,
        n_bits: int = 8,
        n_tables: int = 4,
        metric: Metric = "cosine",
        seed: int = 42,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "LSHIndex":
        t0 = time.time()
        if dim is None:
            # derive from the data: a hyperplane/vector length mismatch makes
            # zip_with null-pad and every bucket silently degenerate to 0
            first = corpus.select(vec_col).first()
            if first is None:
                raise ValueError("cannot build an LSH index over an empty corpus")
            dim = len(first[0])
        planes = _hyperplanes(dim, n_bits, n_tables, seed)
        df = _tag_buckets(corpus, vec_col, planes, "bucket_")
        df = df.persist()
        df.count()  # materialize the index artifact
        return LSHIndex(
            tagged=df,
            planes=planes,
            metric=metric,
            n_bits=n_bits,
            n_tables=n_tables,
            build_seconds=time.time() - t0,
            id_col=id_col,
            vec_col=vec_col,
        )

    def write_partitioned(self, path: str) -> None:
        """Persist the LSH layout (see `index_layout`): the tagged corpus
        partitioned by the first table's bucket (searches prune files on the
        primary key; the other tables' keys stay as columns) plus the
        manifest carrying the hyperplanes, so `load` restores a searchable
        index and `append_to_layout` can tag new vectors identically."""
        layout.write_layout(
            path,
            self.tagged,
            "lsh",
            "tagged",
            "bucket_0",
            self.id_col,
            self.vec_col,
            derived=tuple(f"bucket_{t}" for t in range(self.n_tables)),
            metric=str(self.metric),
            planes=self.planes.tolist(),
            n_bits=int(self.n_bits),
            n_tables=int(self.n_tables),
        )

    @staticmethod
    def load(spark, path: str) -> "LSHIndex":
        """Open a written LSH layout (base directory plus any per-batch
        appends). Search predicates on bucket_0 prune partition directories."""
        manifest, tagged, _ = layout.open_layout(spark, path, "lsh")
        return LSHIndex(
            tagged=tagged,
            planes=np.array(manifest["planes"], dtype=np.float64),
            metric=manifest["metric"],
            n_bits=manifest["n_bits"],
            n_tables=manifest["n_tables"],
            build_seconds=0.0,
            id_col=manifest["id_col"],
            vec_col=manifest["vec_col"],
        )

    @staticmethod
    def append_to_layout(
        spark, path: str, new_rows: DataFrame, batch_id: int | None = None
    ) -> int:
        """Incremental add: tag NEW vectors with the layout's stored
        hyperplanes (LSH needs no retraining — the planes ARE the index) and
        append them, idempotently per ``batch_id`` (see
        `index_layout.append_layout`). Returns rows appended."""

        def encode(m: dict, rows: DataFrame) -> DataFrame:
            planes = np.array(m["planes"], dtype=np.float64)
            return _tag_buckets(rows, m["vec_col"], planes, "bucket_")

        return layout.append_layout(spark, path, "lsh", new_rows, encode, batch_id)

    @staticmethod
    def compact_layout(spark, path: str, files_per_bucket: int = 1) -> int:
        """Fold per-batch appends into the base tagged layout and bound files
        per bucket_0 directory (see `index_layout.compact_layout`)."""
        return layout.compact_layout(spark, path, "lsh", files_per_bucket)

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        predicate: Column | None = None,
        multiprobe: int = 0,
        kernel: str = "arrow",
    ) -> DataFrame:
        """Filtered approximate top-k. Candidates = union over tables of
        bucket-equal rows, deduplicated, exact-reranked. Predicate applies
        BEFORE candidate selection (filter-then-top-k).

        ``multiprobe=m`` also probes every bucket within hamming distance 1
        of the query's bucket in the first m bit positions (the standard
        multi-probe LSH trick): recall of many tables at the candidate cost
        of few. Probe keys explode on the (tiny, broadcast) query side only.

        ``kernel="arrow"`` (default) scores candidates inside a
        ``mapInArrow`` numpy kernel: the corpus streams once (no n_tables
        row fan-out), each (table, bucket) group is scored as a matrix with
        the element-ascending left folds — BIT-IDENTICAL doubles to the
        expression forms (`test_lsh_arrow_bitwise_equals_expr`), same
        (dist, neighbor_id) tie-break, and only per-group top-k partials
        reach the shuffle instead of every candidate pair (guide §4.2 /
        §2.3). ``kernel="expr"`` keeps the interpreted expression path (the
        declarative twin the DuckDB oracle mirrors); metrics without an
        Arrow fold (hamming) always take it.
        """
        if kernel not in ("arrow", "expr"):
            raise ValueError(f"kernel must be 'arrow' or 'expr'; got {kernel!r}")
        corpus = self.tagged
        if predicate is not None:
            corpus = corpus.filter(predicate)
        T, B = self.n_tables, self.n_bits
        m = min(multiprobe, B)
        if kernel == "arrow" and self.metric in _ARROW_SCORERS:
            return self._search_arrow(corpus, queries, k, m)
        dim = self.planes.shape[2]

        # ONE equi-join on the composite (table, bucket) key instead of one
        # join per table: both sides explode their per-table keys (the corpus
        # explode is a narrow n_tables× row fan-out in the same scan — no
        # extra shuffle), so candidate generation is a single broadcast-hash
        # join, not n_tables joins unioned. The whole query-side key pipeline
        # (dots -> buckets -> multiprobe bit-flips -> (t, bucket) structs) is
        # ONE parsed SQL expression: per-Column construction would cost a
        # py4j round-trip each, which at bench scale is more driver time than
        # the executors spend on the query.
        # bs = let-bound per-table bucket array (plane fold runs once/row)
        probe = (
            f"concat(array(bs[t]), "
            f"transform(sequence(0, {m - 1}), j -> bs[t] ^ shiftleft(1L, j)))"
            if m > 0
            else "array(bs[t])"
        )
        buckets = _buckets_sql(
            _all_dots_sql("q_vec", self.planes.reshape(T * B, dim)), B, T
        )
        key_expr = (
            f"explode(flatten(transform(array({buckets}), bs -> "
            f"flatten(transform(sequence(0, {T - 1}), t -> "
            f"transform({probe}, bk -> named_struct('t', t, 'bk', bk)))))))"
        )
        # Cosine: hoist the per-row norm folds below the join (see
        # vec_cosine_distance_prenorm) — the query norm is computed on the
        # tiny broadcast side, the corpus norm ONCE per corpus row in a
        # projection UNDER the explode (the Generate keeps its child
        # projection, so the fan-out only replicates the value) — candidate
        # scoring then evaluates one interpreted fold per pair instead of
        # three. Bit-identical distances.
        q_extra = c_extra = ()
        if self.metric == "cosine":
            queries = queries.select(
                "query_id", "q_vec", V.vec_norm(F.col("q_vec")).alias("_qn")
            )
            corpus = corpus.select(
                *corpus.columns, V.vec_norm(F.col(self.vec_col)).alias("_cn")
            )
            q_extra, c_extra = ("_qn",), ("_cn",)
        q_keys = queries.select(
            "query_id", "q_vec", *q_extra, F.expr(key_expr).alias("e")
        ).select(
            "query_id", "q_vec", *q_extra,
            F.col("e.t").alias("t"), F.col("e.bk").alias("bk"),
        )
        c_struct = ", ".join(
            f"named_struct('t', {t}, 'bk', bucket_{t})" for t in range(T)
        )
        c_keys = corpus.select(
            F.col(self.id_col).alias("neighbor_id"),
            F.col(self.vec_col),
            *c_extra,
            F.expr(f"explode(array({c_struct}))").alias("e"),
        ).select(
            "neighbor_id", self.vec_col, *c_extra,
            F.col("e.t").alias("t"), F.col("e.bk").alias("bk"),
        )

        # Distances are computed BEFORE deduplication so the only shuffle
        # carries (query_id, dist, neighbor_id) — no vectors. Dedup + top-k
        # fuse into ONE aggregation: a duplicate candidate (same pair from
        # two tables) is a bit-identical struct, so array_distinct IS the
        # dedup, and sort+slice replaces the row_number window — one shuffle
        # total instead of groupBy + window (two). Per-query state is the
        # candidate set (corpus/2^n_bits × n_tables expected), the same rows
        # the window form would sort — sized by n_bits at build time.
        if self.metric == "cosine":
            d, asc = (
                V.vec_cosine_distance_prenorm(
                    F.col("q_vec"), F.col(self.vec_col),
                    F.col("_qn"), F.col("_cn"),
                ),
                True,
            )
        else:
            d, asc = distance_col(self.metric, F.col("q_vec"), F.col(self.vec_col))
        pairs = (
            F.broadcast(q_keys)
            .join(c_keys, ["t", "bk"])
            .select("query_id", "neighbor_id", d.alias("dist"))
        )
        return topk_agg(pairs, k, asc=asc, dedup=True)

    def _search_arrow(
        self, corpus: DataFrame, queries: DataFrame, k: int, m: int
    ) -> DataFrame:
        """Arrow-batched LSH search (guide §4.2: distribution/shuffles in
        Spark, batch math in numpy inside the boundary) — `scan_topk` with
        one candidate-group column per table.

        Query side: buckets (+ the first-``m`` multiprobe bit flips)
        computed driver-side with the same element-ascending dot fold as
        the tagging expression (`_query_buckets_fold` — bit-identical
        signs), one bucket -> query map per table. Corpus side: ONE pass, no
        explode — the kernel groups each Arrow batch by every table's stored
        bucket column and scores each probed (table, bucket) group with the
        element-ascending folds (bit-identical doubles to the expression
        path; fold order is batch-shape-invariant, so a pair matched by two
        tables scores identically and `topk_agg(dedup=True)`'s
        array_distinct collapses it, exactly as on the expression path).
        Zero-norm rows (cosine): the expression path's nullif yields a NULL
        dist; the kernel emits every such candidate pair with a NULL dist."""
        planes, T = self.planes, self.n_tables

        def groups(qids, Q):
            qb = _query_buckets_fold(Q, planes)
            maps = {}
            for t in range(T):
                mp: dict[int, list[int]] = {}
                for qi in range(len(qids)):
                    b = int(qb[qi, t])
                    mp.setdefault(b, []).append(qi)
                    for j in range(m):  # multiprobe: hamming-1 flips, first m bits
                        mp.setdefault(b ^ (1 << j), []).append(qi)
                maps[f"bucket_{t}"] = {
                    b: np.array(v, dtype=np.int64) for b, v in mp.items()
                }
            return maps

        ip = self.metric == "inner_product"
        pairs = scan_topk(
            queries,
            corpus,
            "LSHIndex.search",
            _ARROW_SCORERS[self.metric],
            k,
            id_col=self.id_col,
            data_col=self.vec_col,
            groups=groups,
            sign=-1.0 if ip else 1.0,
        )
        return topk_agg(pairs, k, asc=not ip, dedup=True)

    def unpersist(self) -> None:
        self.tagged.unpersist()
