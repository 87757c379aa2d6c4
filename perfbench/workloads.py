"""The benchmark's workloads: seeded inputs, the timed operation, its checks.

Every workload follows one protocol, driven by ``run.py``:

* ``generate(seed, work)`` makes every input from the seed with NumPy and
  writes it as Parquet split into at least ``nproc`` files (no engine code);
* ``setup(spark, tr)`` prepares what the timed operations need;
* ``op(spark, tr, i)`` is one timed operation, returning its output;
* ``check(i, out)`` checks that output against an engine-free oracle and
  returns the list of violated properties;
* ``finish()`` returns run-level problems as ``(message, failed_ops)``;
* ``summary()`` and ``ratios()`` return context and per-layer ratios.

``items`` is what ``qps`` counts per operation: queries for a search batch,
input rows for an ingest or curation pass. ``warmup_ops`` operations run
inside set-up; ``cycle`` operations form one indivisible measuring unit.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from filtered_ads_vector_search_spark.operators.ann import IVFIndex, plan_filtered_search
from filtered_ads_vector_search_spark.operators.filters import (
    BUCKETS,
    NAMED_FILTERS,
    named_filter_predicate,
)
from filtered_ads_vector_search_spark.operators.gridsearch import storage_memory_gb
from filtered_ads_vector_search_spark.pipeline.curate import curate_corpus
from filtered_ads_vector_search_spark.pipeline.embed import mock_embed
from filtered_ads_vector_search_spark.pipeline.quantized_build import (
    TIERS,
    build_quantized_tiers,
)

import oracle

K = 10
NPROBE = 8
DIM = 64
# planner routes at 128 centroids: low_rated -> ann (10 probes),
# high_rated -> ann (52 probes, widened), mid_rated -> exact_filtered
FILTERS = ("low_rated", "high_rated", "mid_rated")
RECALL_FLOOR = 0.80  # the reference's floor for ANN configurations
QUERY_SCHEMA = "query_id long, q_vec array<float>"


def n_files() -> int:
    return max(4, len(os.sched_getaffinity(0)))


def write_split(path: str, table: pa.Table) -> None:
    """Write ``table`` as ``n_files()`` Parquet files, like a real corpus."""
    os.makedirs(path, exist_ok=True)
    n, parts = table.num_rows, n_files()
    for p in range(parts):
        lo, hi = p * n // parts, (p + 1) * n // parts
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{p:03d}.parquet"))


def vectors(mat: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(mat.astype(np.float32).ravel()), mat.shape[1]
    ).cast(pa.list_(pa.float32()))


def rating_buckets(rng: np.random.Generator, n: int) -> np.ndarray:
    """Seeded rating buckets drawn from the reference distribution."""
    labels = np.array([b for b, _ in BUCKETS])
    cum = np.array([c for _, c in BUCKETS])
    return labels[np.searchsorted(cum, rng.integers(0, cum[-1], n), side="right")]


def query_frame(spark, q: np.ndarray):
    pdf = pd.DataFrame({"query_id": np.arange(len(q), dtype=np.int64), "q_vec": list(q)})
    return spark.createDataFrame(pdf, QUERY_SCHEMA)


def warm_session(spark) -> None:
    """Pay in set-up the first-use costs any engine call pays once per
    process: Python worker start, Arrow exchange, shuffle codegen."""
    from pyspark.sql import functions as F

    df = spark.range(256).withColumn("g", F.col("id") % 8)
    df.groupBy("g").count().collect()
    df.mapInArrow(lambda it: it, df.schema).count()
    df.mapInPandas(lambda it: it, df.schema).count()


def planned_search(tr, index, queries, filter_name: str):
    """The filtered search as a caller runs it: plan, then fetch the rows."""
    with tr.span("ann.plan"):
        plan = plan_filtered_search(
            index, queries, k=K, nprobe=NPROBE,
            predicate=named_filter_predicate(filter_name), arrow="blas",
        )
    with tr.span("topk.exact" if plan.tier == "exact_filtered" else "ann.search"):
        rows = plan.result.select("query_id", "neighbor_id", "dist").toArrow()
    return plan, rows


class Search:
    """Filtered top-k batches through the tier planner over a trained index."""

    n_rows = 20_000
    n_clusters = 128
    n_centroids = 128
    spread = 1.5  # within-cluster sigma: ANN recall below 1.0, above the floor
    cycle = len(FILTERS)
    warmup_ops = len(FILTERS)

    def __init__(self, batch: int, pool: int):
        self.batch, self.pool, self.items = batch, pool, batch

    def generate(self, seed: int, work: str) -> None:
        rng = np.random.default_rng(seed)
        self.seed = seed
        centers = rng.standard_normal((self.n_clusters, DIM))
        draw = lambda n: (  # noqa: E731
            centers[rng.integers(0, self.n_clusters, n)]
            + self.spread * rng.standard_normal((n, DIM))
        ).astype(np.float32)
        self.corpus = draw(self.n_rows)
        self.buckets = rating_buckets(rng, self.n_rows)
        self.queries = [draw(self.batch) for _ in range(self.pool)]
        self.path = os.path.join(work, "corpus")
        write_split(self.path, pa.table({
            "vec_id": pa.array(np.arange(self.n_rows, dtype=np.int64)),
            "embedding": vectors(self.corpus),
            "rating_bucket": pa.array(self.buckets),
        }))

    def setup(self, spark, tr) -> None:
        before = storage_memory_gb(spark)
        with tr.span("ann.build"):
            self.index = IVFIndex.build(
                spark.read.parquet(self.path), n_centroids=self.n_centroids, seed=self.seed
            )
        self.index_mem_mb = (storage_memory_gb(spark) - before) * 1024
        self.allowed = {f: np.isin(self.buckets, NAMED_FILTERS[f]) for f in FILTERS}
        self.kth = []
        for j, q in enumerate(self.queries):
            mask = self.allowed[FILTERS[j % len(FILTERS)]]
            self.kth.append(oracle.exact_topk(q, self.corpus[mask], K))
        self.recall = {f: [] for f in FILTERS}
        self.plans = []

    def op(self, spark, tr, i: int):
        j = i % self.pool
        f = FILTERS[j % len(FILTERS)]
        plan, rows = planned_search(tr, self.index, query_frame(spark, self.queries[j]), f)
        self.plans.append((f, plan.tier, plan.nprobe_effective / self.index.n_centroids))
        return j, f, plan.tier, rows

    def check(self, i: int, out) -> list[str]:
        j, f, tier, rows = out
        problems, recall = oracle.check_topk(
            rows.column("query_id").to_numpy(), rows.column("neighbor_id").to_numpy(),
            rows.column("dist").to_numpy(), self.queries[j], self.corpus,
            self.allowed[f], self.kth[j], K,
        )
        if tier == "exact_filtered" and not problems and recall < 1.0:
            problems.append(f"exact route recall {recall:.4f}, expected 1.0")
        self.recall[f].append(recall)
        return problems

    def finish(self) -> list[tuple[str, int]]:
        out = []
        for f, r in self.recall.items():
            if r and np.mean(r) < RECALL_FLOOR:
                out.append((f"{f} recall {np.mean(r):.4f} below {RECALL_FLOOR}", len(r)))
        return out

    def recall_at_10(self) -> float:
        return float(np.mean([np.mean(r) for r in self.recall.values() if r]))

    def summary(self) -> dict:
        routes = {}
        for f, tier, frac in self.plans:
            routes.setdefault(f, {"tier": tier, "probe_fraction": frac})
        return {
            "corpus_rows": self.n_rows, "dim": DIM, "batch_queries": self.batch,
            "n_centroids": self.index.n_centroids, "routes": routes,
            "recall_at_10": self.recall_at_10(),
            "recall_by_filter": {f: float(np.mean(r)) for f, r in self.recall.items() if r},
            "index_mem_mb": self.index_mem_mb,
        }

    def ratios(self, layers: dict) -> dict:
        op = layers.get("op", {})
        return {
            "ann.plan.probe_fraction": float(np.mean([p[2] for p in self.plans])),
            "ann.plan.exact_route_share": float(
                np.mean([p[1] == "exact_filtered" for p in self.plans])
            ),
            "ann.search.jobs_per_batch": op.get("jobs", 0.0),
            "ann.search.tasks_per_query": op.get("tasks", 0.0) / self.batch,
            "ann.recall_at_10": self.recall_at_10(),
            "ann.index_mem_mb": self.index_mem_mb,
        }


class IngestBuild:
    """Review texts -> embeddings -> quantized tiers -> IVF layout -> searchable."""

    n_rows = 2_000
    n_centroids = 64
    filter_name = "low_rated"
    cycle = 1
    warmup_ops = 0

    def __init__(self):
        self.items = self.n_rows

    def generate(self, seed: int, work: str) -> None:
        rng = np.random.default_rng(seed)
        self.seed, self.work = seed, work
        vocab = np.array([f"w{v}" for v in range(3000)])
        lengths = rng.integers(10, 40, self.n_rows)
        texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
        self.buckets = rating_buckets(rng, self.n_rows)
        q = rng.standard_normal((16, DIM))
        self.queries = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
        self.src = os.path.join(work, "reviews")
        write_split(self.src, pa.table({
            "vec_id": pa.array(np.arange(self.n_rows, dtype=np.int64)),
            "text": pa.array(texts),
            "rating_bucket": pa.array(self.buckets),
        }))

    def setup(self, spark, tr) -> None:
        warm_session(spark)
        self.reviews = spark.read.parquet(self.src)
        self.index_mem_mb = []
        self.recall = []
        self.plans = []

    def op(self, spark, tr, i: int):
        out = os.path.join(self.work, "out")
        emb_path, ivf_path = os.path.join(out, "embeddings"), os.path.join(out, "ivf")
        with tr.span("embed.write"):
            mock_embed(self.reviews, "text").write.mode("overwrite").parquet(emb_path)
        emb = spark.read.parquet(emb_path)
        with tr.span("quantize.tiers_write") as s:
            tiers = build_quantized_tiers(spark, emb, os.path.join(out, "tiers"))
        tr.call_site("quantize.sq8_train", s, "quantized_build.py")
        before = storage_memory_gb(spark)
        with tr.span("ann.build"):
            index = IVFIndex.build(emb, n_centroids=self.n_centroids, seed=self.seed)
        self.index_mem_mb.append((storage_memory_gb(spark) - before) * 1024)
        with tr.span("ann.write_bucketed"):
            index.write_bucketed(ivf_path)
        index.unpersist()
        with tr.span("ann.load"):
            loaded = IVFIndex.load(spark, ivf_path)
        plan, rows = planned_search(
            tr, loaded, query_frame(spark, self.queries), self.filter_name
        )
        loaded.unpersist()
        self.plans.append(plan)
        return tiers, ivf_path, rows

    def check(self, i: int, out) -> list[str]:
        tiers, ivf_path, rows = out
        n = self.n_rows
        problems = [
            f"{name} tier holds {got} rows, expected {n}"
            for name in TIERS
            if (got := oracle.parquet_rows(tiers[name])) != n
        ]
        got = oracle.parquet_rows(os.path.join(ivf_path, "assigned"))
        if got != n:
            problems.append(f"IVF layout holds {got} rows, expected {n}")
        corpus = oracle.read_vectors(tiers["full_precision"], "vec_id", "embedding")
        mask = np.isin(self.buckets, NAMED_FILTERS[self.filter_name])
        kth = oracle.exact_topk(self.queries, corpus[mask], K)
        found, recall = oracle.check_topk(
            rows.column("query_id").to_numpy(), rows.column("neighbor_id").to_numpy(),
            rows.column("dist").to_numpy(), self.queries, corpus, mask, kth, K,
        )
        self.recall.append(recall)
        return problems + [f"search over the loaded layout: {p}" for p in found]

    def finish(self) -> list[tuple[str, int]]:
        return []

    def summary(self) -> dict:
        return {
            "reviews": self.n_rows, "dim": DIM, "n_centroids": self.n_centroids,
            "check_search": {"filter": self.filter_name, "tier": self.plans[0].tier,
                             "nprobe_effective": self.plans[0].nprobe_effective},
            "check_recall_at_10": float(np.mean(self.recall)),
            "index_mem_mb": float(np.median(self.index_mem_mb)),
        }

    def ratios(self, layers: dict) -> dict:
        return {
            "ann.plan.probe_fraction": float(np.mean(
                [p.nprobe_effective / self.n_centroids for p in self.plans]
            )),
            "ann.plan.exact_route_share": float(
                np.mean([p.tier == "exact_filtered" for p in self.plans])
            ),
            "ann.recall_at_10": float(np.mean(self.recall)),
            "ann.index_mem_mb": float(np.median(self.index_mem_mb)),
        }


def planted(n: int) -> tuple[int, int]:
    """(exact, near) duplicates planted among the first ``n`` documents."""
    exact = sum(1 for d in range(1, n) if d % 50 == 0)
    return exact, sum(1 for d in range(1, n) if d % 10 == 0) - exact


class Curate:
    """Documents with planted duplicates through the curation funnel."""

    n_docs = 2_000
    cycle = 1
    warmup_ops = 0

    def __init__(self):
        self.items = self.n_docs

    def generate(self, seed: int, work: str) -> None:
        rng = np.random.default_rng(seed)
        self.work = work
        vocab = np.array([f"t{v}" for v in range(3000)])
        texts = [" ".join(vocab[rng.integers(0, len(vocab), 30)]) for _ in range(self.n_docs)]
        # every 50th document repeats its predecessor exactly; every other
        # 10th repeats it with one word appended (Jaccard ~0.97 on 3-shingles)
        for d in range(1, self.n_docs):
            if d % 50 == 0:
                texts[d] = texts[d - 1]
            elif d % 10 == 0:
                texts[d] = texts[d - 1] + " " + vocab[rng.integers(0, len(vocab))]
        ids = np.arange(self.n_docs, dtype=np.int64)
        self.docs_path = os.path.join(work, "docs")
        write_split(self.docs_path, pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)}))
        # a 2% held-out eval slice, copied from the corpus under new ids
        held = ids[ids % 50 == 25]
        self.eval_path = os.path.join(work, "eval")
        write_split(self.eval_path, pa.table({
            "doc_id": pa.array(held + self.n_docs),
            "text": pa.array([texts[d] for d in held]),
        }))

    def setup(self, spark, tr) -> None:
        warm_session(spark)
        self.docs = spark.read.parquet(self.docs_path)
        self.eval_docs = spark.read.parquet(self.eval_path)
        self.funnels = []

    def op(self, spark, tr, i: int):
        out_dir = os.path.join(self.work, "curated")
        stage_s: dict = {}
        with tr.span("curate.curate_corpus") as s:
            funnel = curate_corpus(
                spark, self.docs, out_dir, gopher=False, min_quality=0.0,
                eval_docs=self.eval_docs, stage_seconds=stage_s,
            )
        if s is not None:
            t = s["t0"]
            for stage, dt in stage_s.items():
                tr.window(f"curate.{stage}", s, t, t + dt)
                t += dt
        return funnel, out_dir

    def check(self, i: int, out) -> list[str]:
        f, out_dir = out
        n = self.n_docs
        n_exact, n_near = planted(n)
        problems = []
        if f["input_docs"] != n or f["after_quality_gate"] != n:
            problems.append(f"quality gate dropped documents: {f}")
        if f["after_exact_dedup"] != n - n_exact:
            problems.append(
                f"exact dedup kept {f['after_exact_dedup']}, planted structure "
                f"leaves {n - n_exact}"
            )
        removed = f["after_exact_dedup"] - f["after_near_dedup"]
        if not 0.95 * n_near <= removed <= n_near:
            problems.append(f"near dedup removed {removed} of {n_near} planted")
        if f["after_decontaminate"] >= f["after_near_dedup"]:
            problems.append("decontamination removed none of the eval slice")
        if oracle.parquet_rows(os.path.join(out_dir, "documents.parquet")) != f["after_decontaminate"]:
            problems.append("documents.parquet row count differs from the funnel")
        if oracle.parquet_rows(os.path.join(out_dir, "packing.parquet")) != f["packed_rows"]:
            problems.append("packing.parquet row count differs from the funnel")
        if self.funnels and f != self.funnels[0]:
            problems.append(f"funnel {f} differs from the first pass {self.funnels[0]}")
        self.funnels.append(f)
        return problems

    def finish(self) -> list[tuple[str, int]]:
        return []

    def summary(self) -> dict:
        n_exact, n_near = planted(self.n_docs)
        return {"docs": self.n_docs, "planted_exact": n_exact,
                "planted_near": n_near, "funnel": self.funnels[0]}

    def ratios(self, layers: dict) -> dict:
        f = self.funnels[0]
        return {"curate.kept_per_input": f["after_decontaminate"] / f["input_docs"]}


WORKLOADS = {
    "search_batch": lambda: Search(batch=2000, pool=6),
    "ingest_build": IngestBuild,
    "curate": Curate,
}
