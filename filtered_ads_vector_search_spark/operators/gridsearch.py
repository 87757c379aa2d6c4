"""Grid-search driver (SURVEY.md §2 H4-H6, §3.1 — the reference's flagship).

Reference lifecycle (unified_grid_search, cuvs_bench_grid_search_v3.py:506-743):
compute the exact ground truth ONCE per (data, filter) pair, then for each
hyperparameter combo: build index -> search all queries -> recall vs truth ->
throughput replay -> append one CSV row; finally summarize best-recall /
best-QPS per run (all_runs_summary-2.csv).

Spark form: deterministic control flow stays on the driver (a Python loop —
the grid is tiny); every step inside the loop is a DataFrame job. The truth
DataFrame is computed once and cached (the reference's one-time oracle,
:613-623). Knob mapping per SURVEY.md §2 I1/I2: n_centroids ~ graph_degree/M,
nprobe ~ search_width/efSearch.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import materialize, release
from ..sources.sinks import append_metrics_csv
from .ann import IVFIndex
from .recall import recall_at_k
from .topk import Metric, knn_scalable


def storage_memory_gb(spark: SparkSession) -> float:
    """In-memory bytes across persisted relations, from Spark's status API —
    the engine analog of the reference's MemoryMonitor build-memory delta
    (reference: utils_grid_search.py:1034-1253; memory_increase_build_gb
    column in benchmarking-results/cagra_fp16_*.csv). On a cluster this sums
    every executor's block-manager storage; in local mode it is the single
    JVM's storage pool. Sampled before/after each index build, the delta is
    the materialized index footprint."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return float(sum(i.memSize() for i in infos)) / float(1 << 30)


@dataclass
class GridConfig:
    """Mirrors params_config.yaml:2-15 shape — lists crossed into combos, with
    the reference's validity constraint (graph_degree <= intermediate_graph_degree
    -> here nprobe <= n_centroids, cuvs_bench_grid_search_v3.py:136-138)."""

    n_centroids: list[int] = field(default_factory=lambda: [16, 32, 64])
    nprobe: list[int] = field(default_factory=lambda: [1, 4, 8])
    k: int = 10
    metric: Metric = "sqeuclidean"
    seed: int = 42


def param_grid(cfg: GridConfig) -> list[dict]:
    """itertools.product + constraint pruning (reference :124-142)."""
    return [
        {"n_centroids": nc, "nprobe": np_}
        for nc, np_ in itertools.product(cfg.n_centroids, cfg.nprobe)
        if np_ <= nc
    ]


def grid_search(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    cfg: GridConfig | None = None,
    predicate: Column | None = None,
    run_name: str = "ivf",
    csv_path: str | None = None,
    replay_seconds: float = 0.0,
    fixed: bool = False,
) -> DataFrame:
    """Run the full grid; returns the metrics DataFrame (one row per combo:
    the reference's per-combo CSV schema — params, build_time_seconds, recall,
    qps, p50/p99 — benchmarking-results/cagra_fp16_*.csv).

    ``fixed=True`` swaps in the deterministic hash-picked-centroid build
    (IVFIndex.build_fixed) so every non-wall-clock column of the driver loop
    — recall, n_result_rows per combo — is DuckDB-reproducible; the trained
    KMeans tier stays the quality path."""
    cfg = cfg if cfg is not None else GridConfig()  # no shared mutable default
    filtered = corpus.filter(predicate) if predicate is not None else corpus
    # one-time exact oracle, materialized across all combos (reference :613-623)
    truth = materialize(knn_scalable(queries, filtered, k=cfg.k, metric=cfg.metric))
    n_queries = queries.count()

    results: list[dict] = []
    for combo in param_grid(cfg):
        mem0 = storage_memory_gb(spark)
        t0 = time.time()
        if fixed:
            index = IVFIndex.build_fixed(
                filtered, n_centroids=combo["n_centroids"], metric=cfg.metric
            )
        else:
            index = IVFIndex.build(
                filtered,
                n_centroids=combo["n_centroids"],
                metric=cfg.metric,
                seed=cfg.seed,
            )
        build_s = index.build_seconds

        t0 = time.time()
        found = index.search(queries, k=cfg.k, nprobe=combo["nprobe"])
        n_found = found.count()
        search_s = time.time() - t0
        # the persisted index relation is fully materialized once the first
        # search has run over it — sample storage AFTER, delta = index footprint
        mem_gb = max(0.0, storage_memory_gb(spark) - mem0)
        rec = recall_at_k(found, truth, k=cfg.k).first()["recall_at_k"]

        row = {
            "run": run_name,
            "n_centroids": combo["n_centroids"],
            "nprobe": combo["nprobe"],
            "k": cfg.k,
            "metric": cfg.metric,
            "build_time_seconds": round(build_s, 3),
            "search_time_seconds": round(search_s, 3),
            "qps": round(n_queries / search_s, 2) if search_s > 0 else None,
            "recall": float(rec) if rec is not None else 0.0,
            "n_result_rows": n_found,
            "memory_increase_build_gb": round(mem_gb, 6),
        }
        if replay_seconds > 0:
            from ..streaming.replay import replay_throughput

            rep = replay_throughput(
                spark,
                lambda: index.search(queries, k=cfg.k, nprobe=combo["nprobe"]),
                run_time_s=replay_seconds,
                rows_per_batch=n_queries,
            )
            row.update({"replay_qps": rep["qps"], "p50_s": rep["p50_s"], "p99_s": rep["p99_s"]})
        results.append(row)
        if csv_path:
            append_metrics_csv(row, csv_path)  # incremental sink (reference :690-693)
        index.unpersist()

    release(truth)
    return spark.createDataFrame(results)


@dataclass
class LSHGridConfig:
    """Second grid family — the HNSW-side sweep (reference grid-searches
    CAGRA and HNSW separately, 132 + 48 combos; all_runs_summary-2.csv has
    one block per family). Knob mapping per SURVEY.md §2 I2:
    n_bits ~ M (bucket granularity), n_tables ~ efConstruction (build-side
    recall), multiprobe ~ efSearch (search-side recall); constraint
    multiprobe <= n_bits mirrors the efSearch >= k validity rule."""

    n_bits: list[int] = field(default_factory=lambda: [2, 4])
    n_tables: list[int] = field(default_factory=lambda: [4, 8])
    multiprobe: list[int] = field(default_factory=lambda: [0, 2])
    k: int = 10
    metric: Metric = "cosine"
    seed: int = 42


def lsh_param_grid(cfg: LSHGridConfig) -> list[dict]:
    return [
        {"n_bits": b, "n_tables": t, "multiprobe": m}
        for b, t, m in itertools.product(cfg.n_bits, cfg.n_tables, cfg.multiprobe)
        if m <= b
    ]


def grid_search_lsh(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    cfg: LSHGridConfig | None = None,
    predicate: Column | None = None,
    run_name: str = "lsh",
    csv_path: str | None = None,
) -> DataFrame:
    """LSH-family grid: same lifecycle as grid_search (one materialized truth,
    per-combo build/search/recall/QPS rows, same CSV schema modulo knobs)."""
    from .lsh import LSHIndex

    cfg = cfg if cfg is not None else LSHGridConfig()
    filtered = corpus.filter(predicate) if predicate is not None else corpus
    truth = materialize(knn_scalable(queries, filtered, k=cfg.k, metric=cfg.metric))
    n_queries = queries.count()

    results: list[dict] = []
    for combo in lsh_param_grid(cfg):
        mem0 = storage_memory_gb(spark)
        index = LSHIndex.build(
            filtered,
            n_bits=combo["n_bits"],
            n_tables=combo["n_tables"],
            metric=cfg.metric,
            seed=cfg.seed,
        )
        t0 = time.time()
        found = index.search(queries, k=cfg.k, multiprobe=combo["multiprobe"])
        n_found = found.count()
        search_s = time.time() - t0
        mem_gb = max(0.0, storage_memory_gb(spark) - mem0)
        rec = recall_at_k(found, truth, k=cfg.k).first()["recall_at_k"]
        row = {
            "run": run_name,
            "n_bits": combo["n_bits"],
            "n_tables": combo["n_tables"],
            "multiprobe": combo["multiprobe"],
            "k": cfg.k,
            "metric": cfg.metric,
            "build_time_seconds": round(index.build_seconds, 3),
            "search_time_seconds": round(search_s, 3),
            "qps": round(n_queries / search_s, 2) if search_s > 0 else None,
            "recall": float(rec) if rec is not None else 0.0,
            "n_result_rows": n_found,
            "memory_increase_build_gb": round(mem_gb, 6),
        }
        results.append(row)
        if csv_path:
            append_metrics_csv(row, csv_path)
        index.unpersist()

    release(truth)
    return spark.createDataFrame(results)


#: knob columns across both grid families; summarize() keeps whichever the
#: metrics DataFrame actually carries (IVF: n_centroids/nprobe, LSH:
#: n_bits/n_tables/multiprobe).
_KNOB_COLUMNS = ("n_centroids", "nprobe", "n_bits", "n_tables", "multiprobe", "rerank", "m")


def summarize(metrics: DataFrame) -> DataFrame:
    """Best-recall and best-QPS rows per run (reference summary schema:
    all_runs_summary-2.csv) via argmax windows. Works on either grid
    family's metrics: knob columns are intersected with the input schema."""
    from pyspark.sql import Window

    knobs = [c for c in _KNOB_COLUMNS if c in metrics.columns]
    cols = ["run", "recall", "qps", "build_time_seconds", *knobs]
    by_recall = Window.partitionBy("run").orderBy(F.col("recall").desc(), F.col("qps").desc())
    by_qps = Window.partitionBy("run").orderBy(F.col("qps").desc(), F.col("recall").desc())

    def best(window, which: str) -> DataFrame:
        return (
            metrics.withColumn("rn", F.row_number().over(window))
            .filter(F.col("rn") == 1)
            .select("run", F.lit(which).alias("which"), *cols[1:])
        )

    return best(by_recall, "best_recall").unionAll(best(by_qps, "best_qps"))


@dataclass
class IVFPQGridConfig:
    """Third grid family — the composed-tier sweep. The index artifact does
    not depend on the search knobs, so the build runs ONCE and the sweep
    walks (nprobe, rerank): exactly how the reference sweeps search_width /
    itopk against one built index per build-param combo
    (cuvs_bench_grid_search_v3.py:585-632)."""

    nprobe: list[int] = field(default_factory=lambda: [2, 4])
    rerank: list[int] = field(default_factory=lambda: [0, 20])
    n_centroids: int = 16
    m: int = 4
    n_codes: int = 16
    k: int = 10
    seed: int = 42


def ivfpq_param_grid(cfg: IVFPQGridConfig) -> list[dict]:
    return [
        {"nprobe": np_, "rerank": rr}
        for np_, rr in itertools.product(cfg.nprobe, cfg.rerank)
    ]


def grid_search_ivfpq(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    cfg: IVFPQGridConfig | None = None,
    predicate: Column | None = None,
    fixed: bool = False,
    run_name: str = "ivfpq",
    csv_path: str | None = None,
) -> DataFrame:
    """IVFPQ-family grid: one build (fixed or trained), per-(nprobe, rerank)
    search/recall rows — same lifecycle and CSV schema family as the other
    two grids. ``fixed=True`` uses the deterministic build, making every
    non-wall-clock column DuckDB-reproducible."""
    from .ivfpq import IVFPQIndex

    cfg = cfg if cfg is not None else IVFPQGridConfig()
    filtered = corpus.filter(predicate) if predicate is not None else corpus
    truth = materialize(knn_scalable(queries, filtered, k=cfg.k, metric="sqeuclidean"))
    n_queries = queries.count()

    mem0 = storage_memory_gb(spark)
    if fixed:
        index = IVFPQIndex.build_fixed(
            filtered, n_centroids=cfg.n_centroids, m=cfg.m, n_codes=cfg.n_codes
        )
    else:
        index = IVFPQIndex.build(
            filtered,
            n_centroids=cfg.n_centroids,
            m=cfg.m,
            n_codes=cfg.n_codes,
            seed=cfg.seed,
        )
    mem_gb = max(0.0, storage_memory_gb(spark) - mem0)

    results: list[dict] = []
    for combo in ivfpq_param_grid(cfg):
        t0 = time.time()
        found = index.search(
            queries, k=cfg.k, nprobe=combo["nprobe"], rerank=combo["rerank"]
        )
        n_found = found.count()
        search_s = time.time() - t0
        rec = recall_at_k(found, truth, k=cfg.k).first()["recall_at_k"]
        row = {
            "run": run_name,
            "nprobe": combo["nprobe"],
            "rerank": combo["rerank"],
            "n_centroids": cfg.n_centroids,
            "m": cfg.m,
            "k": cfg.k,
            "build_time_seconds": round(index.build_seconds, 3),
            "search_time_seconds": round(search_s, 3),
            "qps": round(n_queries / search_s, 2) if search_s > 0 else None,
            "recall": float(rec) if rec is not None else 0.0,
            "n_result_rows": n_found,
            "memory_increase_build_gb": round(mem_gb, 6),
        }
        results.append(row)
        if csv_path:
            append_metrics_csv(row, csv_path)
    index.unpersist()
    release(truth)
    return spark.createDataFrame(results)
