"""Real-scale local bench: 1M x 64 vectors / 200k documents (generated by
scripts/gen_scale_data.py — run it first).

This is the empirical scale story the tiny SF bench can't tell: at sf0.1 the
corpus is 2,000 vectors and every query is fixed-overhead-dominated; here the
operators process ~10^6 rows, so the physical-plan choices (broadcast +
mapInPandas local top-k vs crossJoin window; IVF bucket pruning vs full scan;
banded minhash equi-join vs all-pairs) become measurable. Prints ONE JSON
line and writes SCALE_BENCH.json at the repo root.

Protocol notes: single Spark app, sequential queries, codegen/Arrow warmup
excluded (matches bench.py); the window-form exact kNN runs on a query
subset (it is the deliberately quadratic oracle tier) and is reported
per-query alongside knn_scalable's per-query cost.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.operators import filters as FL
from filtered_ads_vector_search_spark.operators import topk as TK
from filtered_ads_vector_search_spark.operators.ann import IVFIndex
from filtered_ads_vector_search_spark.operators import dedup as DD
from filtered_ads_vector_search_spark.operators.recall import recall_at_k
from filtered_ads_vector_search_spark.session import get_spark

DATA = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "scale_data")
N_QUERIES = 100
N_WINDOW_QUERIES = 20  # the quadratic oracle tier gets a subset
IVF_CENTROIDS = 256
IVF_NPROBE = 8
# The reference's headline artifact walks three named filters spanning the
# selectivity range (filter_config.yaml; BASELINE.md): ~84% / ~16% / ~0.8%
# of the corpus kept. mid_rated is the hard one — its recall floor is the
# acceptance bar (reference tests.py:135 floor 0.80).
BENCH_FILTERS = ("low_rated", "high_rated", "mid_rated")
FILTER_NPROBES = (8, 16)
MID_RATED_RECALL_FLOOR = 0.80
# SemDeDup threshold for the 1M row: cos_dist <= this marks a semantic dup.
# On the synthetic clustered corpus (256 hash-derived centers, ±0.3 uniform
# noise) same-center vectors sit well inside 0.05 (measured cos_dist ~0.02),
# so each center family collapses to its lowest id. The generator's center
# map is LINEAR in the center index mod 1000, so some center PAIRS also
# differ by a near-constant small vector and alias within 0.05 — the 1M run
# keeps ~107 of 256 families, an unplanned but legitimate near-dup
# structure the keep rule deduplicates too (see
# extras.semdedup_1m_kept / semdedup_1m_kept_fraction).
SEMDEDUP_1M_THRESHOLD = 0.05


def main() -> None:
    spark = get_spark(app_name="favs-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    extras: dict = {}

    # BENCH_DRIFT.md round-6 addendum: single-shot sub-10 s rows carry ~2x
    # JIT/GC noise; rows marked resample=True re-run min-of-3 when the first
    # shot lands under the threshold, recording sample count + spread so
    # cross-round comparisons don't need another bisection. resample is only
    # valid for PURE re-runnable actions (searches/counts over existing
    # relations) — builds, writes, and cache-materializing counts stay
    # single-shot (a re-run would measure the cache, not the operator).
    RESAMPLE_N = 3
    RESAMPLE_UNDER_S = 10.0
    row_samples: dict[str, dict] = {}

    def timed(name: str, fn, resample: bool = False):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        times = [dt]
        if resample and dt < RESAMPLE_UNDER_S:
            for _ in range(RESAMPLE_N - 1):
                t0 = time.time()
                fn()
                times.append(time.time() - t0)
            row_samples[name] = {
                "samples": len(times),
                "spread_s": round(max(times) - min(times), 3),
            }
        timings[name] = round(min(times), 3)
        return out

    # warmup: codegen + exchange + Python worker daemon (same as bench.py)
    warm = spark.range(256).withColumn("g", F.col("id") % 8)
    warm.groupBy("g").count().count()
    warm.mapInPandas(lambda it: it, schema="id long, g long").count()

    emb = spark.read.parquet(f"{DATA}/vectors.parquet")
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        .cache()
    )
    # rating buckets ride on the corpus so the index layouts carry them and
    # filtered searches bind predicates against the index artifact itself
    c = FL.with_rating_bucket(emb.filter(F.col("vec_id") >= N_QUERIES)).cache()
    extras["n_corpus"] = c.count()
    extras["n_queries"] = q.count()

    # --- exact top-k: scale path vs quadratic oracle tier ---
    # timed on fresh uncached runs (resample-able); the cached truth for the
    # recall joins materializes separately below
    n = timed(
        "knn_scalable_100q", lambda: TK.knn_scalable(q, c, k=10).count(),
        resample=True,
    )
    assert n == N_QUERIES * 10
    truth2 = TK.knn_scalable(q, c, k=10).cache()
    truth2.count()

    q_sub = q.filter(F.col("query_id") < N_WINDOW_QUERIES)
    nw = timed(
        f"knn_window_{N_WINDOW_QUERIES}q",
        lambda: TK.knn_window(q_sub, c, k=10).count(),
        resample=True,
    )
    assert nw == N_WINDOW_QUERIES * 10
    extras["window_sec_per_query"] = round(
        timings[f"knn_window_{N_WINDOW_QUERIES}q"] / N_WINDOW_QUERIES, 3
    )
    extras["scalable_sec_per_query"] = round(timings["knn_scalable_100q"] / N_QUERIES, 4)

    # --- IVF tier: trained build, bucketed layout, pruned probe search ---
    from filtered_ads_vector_search_spark.operators.gridsearch import storage_memory_gb

    mem0 = storage_memory_gb(spark)
    idx = timed(
        "ann_ivf_build_256c",
        lambda: IVFIndex.build(c, n_centroids=IVF_CENTROIDS, seed=42),
    )
    extras["ann_ivf_build_reported"] = round(idx.build_seconds, 3)
    extras["memory_increase_build_gb"] = round(
        max(0.0, storage_memory_gb(spark) - mem0), 6
    )
    layout = f"{DATA}/ivf_index"
    timed("ann_ivf_write_bucketed", lambda: idx.write_bucketed(layout))
    idx.unpersist()
    loaded = IVFIndex.load(spark, layout)
    found = loaded.search(q, k=10, nprobe=IVF_NPROBE)
    plan = found._jdf.queryExecution().executedPlan().toString()
    extras["ivf_scan_pruned"] = (
        "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(partition_id" in plan
    )
    timed(
        f"ann_ivf_search_np{IVF_NPROBE}",
        lambda: loaded.search(q, k=10, nprobe=IVF_NPROBE).count(),
        resample=True,
    )
    rec = recall_at_k(found, truth2, k=10).first()
    extras[f"ann_ivf_recall_np{IVF_NPROBE}"] = float(rec["recall_at_k"])
    found16 = loaded.search(q, k=10, nprobe=16)
    timed(
        "ann_ivf_search_np16",
        lambda: loaded.search(q, k=10, nprobe=16).count(),
        resample=True,
    )
    extras["ann_ivf_recall_np16"] = float(
        recall_at_k(found16, truth2, k=10).first()["recall_at_k"]
    )

    # --- per-filter recall + QPS (the reference's headline artifact shape) ---
    # One filtered exact truth per filter, then each index family sweeps
    # FILTER_NPROBES with adaptive probing (nprobe widens by 1/selectivity,
    # estimated from the loaded layout's sample sidecar — never a corpus
    # scan). Produces all_runs_summary.csv rows mirroring the reference's
    # benchmarking-results/*/all_runs_summary-2.csv schema.
    t_filters0 = time.time()
    filter_rows: list[dict] = []
    truths: dict[str, object] = {}
    for fname in BENCH_FILTERS:
        pred = FL.named_filter_predicate(fname)
        truths[fname] = TK.knn_scalable(q, c.filter(pred), k=10).cache()
        truths[fname].count()
    # the suite metric counts ONLY its own work: the three exact truths plus
    # each filtered_run's search + recall join. The t_filters0 wall span also
    # covers the independently-timed 1000q/10kq/build rows interleaved below
    # (it feeds run_time_minutes, the reference's whole-grid analog) — before
    # round 6 the suite metric aliased that whole span, which round 5's review
    # misread as suite growth.
    suite_secs = time.time() - t_filters0

    def filtered_run(run_name: str, fname: str, search_fn, params: dict) -> dict:
        nonlocal suite_secs
        t_row0 = time.time()
        pred = FL.named_filter_predicate(fname)
        # min-of-N: these 100-query rows are sub-second and the noisiest in
        # the artifact (BENCH_DRIFT round-6 addendum); searches are pure
        times = []
        found = None
        for _ in range(RESAMPLE_N):
            t0 = time.time()
            found = search_fn(pred)
            found.count()
            times.append(time.time() - t0)
            if times[0] >= RESAMPLE_UNDER_S:
                break
        search_s = min(times)
        rec = float(
            recall_at_k(found, truths[fname], k=10).first()["recall_at_k"]
        )
        row = {
            "run": run_name,
            "filter_name": fname,
            "filter_ranges": FL.NAMED_FILTERS[fname],
            "params": params,
            "recall": rec,
            "qps": round(N_QUERIES / search_s, 2),
            "search_time_seconds": round(search_s, 3),
            "samples": len(times),
            "spread_s": round(max(times) - min(times), 3),
        }
        filter_rows.append(row)
        suite_secs += time.time() - t_row0
        return row

    # the suite runs the Arrow forms — IVF rows on the DGEMM scorer (same
    # ranked rows as the expression form, last-ulps distances), ADC rows
    # bit-identical; both contracts asserted in tests. Recalls are
    # unchanged, wall time is the honest faster physical form a throughput
    # deployment would run
    for fname in BENCH_FILTERS:
        for np_ in FILTER_NPROBES:
            filtered_run(
                "ivf",
                fname,
                lambda pred, np_=np_: loaded.search(
                    q,
                    k=10,
                    nprobe=np_,
                    predicate=pred,
                    adaptive_nprobe=True,
                    arrow_score=True,
                ),
                {
                    "n_centroids": IVF_CENTROIDS,
                    "nprobe": np_,
                    "adaptive": True,
                    "kernel": "arrow-blas",
                },
            )

    # --- batch-throughput QPS: the reference's q/s numbers amortize over
    # 10k-query batches; 100 queries measure per-job latency instead. One
    # 1000-query batch gives the throughput-shaped number. ---
    q1k = (
        emb.filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + 1000)
        )
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        .cache()
    )
    n1k = q1k.count()
    timed(
        "ann_ivf_search_1000q",
        lambda: loaded.search(q1k, k=10, nprobe=IVF_NPROBE).count(),
        resample=True,
    )
    extras["ann_ivf_qps_1000q_batch"] = round(n1k / timings["ann_ivf_search_1000q"], 2)
    # the IVF Arrow form: DGEMM scorer, same ranked rows, last-ulps
    # distances — the throughput form a deployment would run
    timed(
        "ann_ivf_search_1000q_arrow_blas",
        lambda: loaded.search(q1k, k=10, nprobe=IVF_NPROBE, arrow_score=True).count(),
        resample=True,
    )
    extras["ann_ivf_qps_1000q_arrow_blas"] = round(
        n1k / timings["ann_ivf_search_1000q_arrow_blas"], 2
    )

    # --- composed IVF+PQ tier: the actual 100 TB search path ---
    from filtered_ads_vector_search_spark.operators.ivfpq import IVFPQIndex

    ivfpq = timed(
        "ivfpq_build_256c_m8",
        lambda: IVFPQIndex.build(c, n_centroids=IVF_CENTROIDS, m=8, n_codes=32, seed=42),
    )
    found_pq = ivfpq.search(q, k=10, nprobe=IVF_NPROBE, rerank=100)
    timed(
        f"ivfpq_search_np{IVF_NPROBE}_rr100",
        lambda: ivfpq.search(q, k=10, nprobe=IVF_NPROBE, rerank=100).count(),
        resample=True,
    )
    extras["ivfpq_recall_rr100"] = float(
        recall_at_k(found_pq, truth2, k=10).first()["recall_at_k"]
    )
    for fname in BENCH_FILTERS:
        for np_ in FILTER_NPROBES:
            filtered_run(
                "ivfpq",
                fname,
                lambda pred, np_=np_: ivfpq.search(
                    q, k=10, nprobe=np_, rerank=100, predicate=pred,
                    adaptive_nprobe=True, arrow_adc=True,
                ),
                {
                    "n_centroids": IVF_CENTROIDS,
                    "m": 8,
                    "n_codes": 32,
                    "nprobe": np_,
                    "rerank": 100,
                    "adaptive": True,
                    "kernel": "arrow",
                },
            )
    timed(
        "ivfpq_search_1000q_rr100",
        lambda: ivfpq.search(q1k, k=10, nprobe=IVF_NPROBE, rerank=100).count(),
        resample=True,
    )
    extras["ivfpq_qps_1000q_batch"] = round(
        n1k / timings["ivfpq_search_1000q_rr100"], 2
    )

    # Arrow ADC kernel (bit-identical results, same plan shape, numpy
    # scoring instead of interpreted HOF folds) on the same 1000-query batch
    timed(
        "ivfpq_search_1000q_arrow",
        lambda: ivfpq.search(
            q1k, k=10, nprobe=IVF_NPROBE, rerank=100, arrow_adc=True
        ).count(),
        resample=True,
    )
    extras["ivfpq_qps_1000q_arrow"] = round(
        n1k / timings["ivfpq_search_1000q_arrow"], 2
    )
    q1k.unpersist()

    # --- amortized-batch QPS: ONE job pushing 10k queries through the
    # IVFPQ probe join (Arrow ADC kernel — the throughput form). The
    # reference's 8.4k-46.5k q/s numbers amortize per-batch overhead across
    # 10k GPU-resident queries; at batch=100/1000 our numbers are dominated
    # by per-job Spark scheduling, so this row is the honest
    # throughput-shaped comparable (the same framing scalable_sec_per_query
    # gives the exact tier). ---
    q10k = (
        emb.filter(
            (F.col("vec_id") >= N_QUERIES + 1000)
            & (F.col("vec_id") < N_QUERIES + 11000)
        )
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        .cache()
    )
    n10k = q10k.count()
    timed(
        "ivfpq_search_10kq_arrow_rr100",
        lambda: ivfpq.search(
            q10k, k=10, nprobe=IVF_NPROBE, rerank=100, arrow_adc=True
        ).count(),
        resample=True,
    )
    extras["ivfpq_qps_10k_amortized"] = round(
        n10k / timings["ivfpq_search_10kq_arrow_rr100"], 2
    )

    # --- FILTERED amortized QPS: the same 10k-query single job, with the
    # reference's high (16% kept) and mid (0.8% kept) predicates bound into
    # the probe scan (adaptive nprobe widens by 1/selectivity). This is the
    # row comparable in SHAPE to BASELINE.md's filtered GPU q/s numbers —
    # the 100-query filtered suite above reports per-job latency, not
    # throughput. ---
    for fname in ("high_rated", "mid_rated"):
        pred = FL.named_filter_predicate(fname)
        timed(
            f"ivf_search_10kq_arrow_{fname}",
            lambda pred=pred: loaded.search(
                q10k, k=10, nprobe=16, predicate=pred,
                adaptive_nprobe=True, arrow_score=True,
            ).count(),
            resample=True,
        )
        extras[f"ivf_qps_10k_amortized_{fname}"] = round(
            n10k / timings[f"ivf_search_10kq_arrow_{fname}"], 2
        )
        timed(
            f"ivfpq_search_10kq_arrow_{fname}",
            lambda pred=pred: ivfpq.search(
                q10k, k=10, nprobe=16, rerank=100, predicate=pred,
                adaptive_nprobe=True, arrow_adc=True,
            ).count(),
            resample=True,
        )
        extras[f"ivfpq_qps_10k_amortized_{fname}"] = round(
            n10k / timings[f"ivfpq_search_10kq_arrow_{fname}"], 2
        )

    # --- tier planner at scale: mid_rated (0.77% kept) saturates adaptive
    # widening (ceil(16/0.0077) >> n_centroids), so the planner must route
    # to the exact scan of the filtered corpus — recall 1.0 at a fraction of
    # the saturated-ANN cost (the 5M anchor measured 4623 q/s exact vs
    # 26-31 q/s saturated ADC). The timed span includes the routing
    # estimate itself. ---
    from filtered_ads_vector_search_spark.operators.ann import plan_filtered_search

    t0 = time.time()
    plan = plan_filtered_search(
        loaded, q10k, k=10, nprobe=16,
        predicate=FL.named_filter_predicate("mid_rated"),
    )
    plan.result.count()
    dt = time.time() - t0
    timings["planner_10kq_mid_rated"] = round(dt, 3)
    extras["planner_10kq_mid_tier"] = plan.tier
    extras["planner_qps_10k_mid_rated"] = round(n10k / dt, 2)

    q10k.unpersist()
    ivfpq.unpersist()
    for t in truths.values():
        t.unpersist()
    timings["filtered_recall_qps_suite"] = round(suite_secs, 3)

    # --- search_sharded PAST the kernels' 100k query-collect cap: 150k
    # queries split into 2 deterministic hash shards by the driver, vs the
    # same two ~75k searches unioned by hand. The sharded result must equal
    # the manual union EXACTLY (same xxhash-mod split -> the very same
    # per-shard jobs), pinning that the driver's cap probe + shard loop add
    # nothing; both walls are recorded. ---
    from filtered_ads_vector_search_spark.operators.ann import search_sharded

    q150 = (
        emb.filter(F.col("vec_id") < 150_000)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        .cache()
    )
    n150 = q150.count()
    t0 = time.time()
    sharded = search_sharded(
        loaded, q150, k=10, nprobe=IVF_NPROBE, arrow_score=True
    ).persist()
    ns = sharded.count()
    dt = time.time() - t0
    timings["ivf_search_150kq_sharded"] = round(dt, 3)
    extras["ivf_qps_150k_sharded"] = round(n150 / dt, 2)
    t0 = time.time()
    half = F.pmod(F.xxhash64(F.col("query_id")), F.lit(2))
    manual = (
        loaded.search(
            q150.filter(half == F.lit(0)), k=10, nprobe=IVF_NPROBE,
            arrow_score=True,
        )
        .unionAll(
            loaded.search(
                q150.filter(half == F.lit(1)), k=10, nprobe=IVF_NPROBE,
                arrow_score=True,
            )
        )
        .persist()
    )
    nm = manual.count()
    timings["ivf_search_150kq_manual_2x75k"] = round(time.time() - t0, 3)
    assert ns == nm == n150 * 10, (ns, nm, n150)
    n_diff = sharded.exceptAll(manual).count()
    assert n_diff == 0, f"sharded result diverged from manual union: {n_diff} rows"
    extras["sharded_150k_equals_manual_union"] = True
    sharded.unpersist()
    manual.unpersist()
    q150.unpersist()

    # --- best-per-(run, filter) summary CSV: the reference's
    # all_runs_summary-2.csv schema (data_size, filter_name, filter_ranges,
    # run_time_minutes, best_recall, best_qps, best_qps_params,
    # parameters_tested, output_file) ---
    import csv

    summary_path = f"{DATA}/all_runs_summary.csv"
    with open(summary_path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(
            [
                "data_size", "run", "filter_name", "filter_ranges",
                "run_time_minutes", "best_recall", "best_qps",
                "best_qps_params", "parameters_tested", "output_file",
            ]
        )
        run_minutes = round((time.time() - t_filters0) / 60.0, 3)
        for run_name in ("ivf", "ivfpq"):
            for fname in BENCH_FILTERS:
                rows = [
                    r
                    for r in filter_rows
                    if r["run"] == run_name and r["filter_name"] == fname
                ]
                best_rec = max(rows, key=lambda r: (r["recall"], r["qps"]))
                best_qps = max(rows, key=lambda r: (r["qps"], r["recall"]))
                w.writerow(
                    [
                        extras["n_corpus"] + extras["n_queries"],
                        run_name,
                        fname,
                        str(FL.NAMED_FILTERS[fname]),
                        run_minutes,
                        best_rec["recall"],
                        best_qps["qps"],
                        str(best_qps["params"]),
                        len(rows),
                        "SCALE_BENCH.json",
                    ]
                )
    extras["filtered_summary_csv"] = summary_path
    extras["filtered_rows"] = filter_rows
    # min-of-N metadata for every resampled timed() row (BENCH_DRIFT
    # round-6 addendum): sample count + max-min spread per sub-10s row
    extras["row_samples"] = row_samples
    # the acceptance bar: the hardest filter must clear the reference's
    # filtered-ANN recall floor (tests.py:135) with adaptive probing
    mid_best = max(
        r["recall"]
        for r in filter_rows
        if r["filter_name"] == "mid_rated" and r["run"] == "ivf"
    )
    assert mid_best >= MID_RATED_RECALL_FLOOR, (
        f"mid_rated best recall {mid_best} below {MID_RATED_RECALL_FLOOR}"
    )

    # --- dedup at 200k documents: banded minhash vs exact groupBy ---
    docs = spark.read.parquet(f"{DATA}/documents.parquet").cache()
    n_docs = docs.count()
    extras["n_docs"] = n_docs
    timed("dedup_exact_200k", lambda: DD.exact_dedup(docs).count(), resample=True)
    t0 = time.time()
    pairs = DD.minhash_pairs(docs, threshold=0.5).count()
    timings["dedup_minhash_lsh_200k"] = round(time.time() - t0, 3)
    extras["minhash_pairs_found"] = pairs
    # planted: every 50th doc is an exact dup, every 10th a near dup
    assert pairs >= n_docs // 50, (pairs, n_docs // 50)

    # --- curation operators at 200k documents (round-4 additions) ---
    from filtered_ads_vector_search_spark.functions import hashing as H
    from filtered_ads_vector_search_spark.operators import lmscore as LM
    from filtered_ads_vector_search_spark.operators import sketch as SK

    timed("substr_dup_stats_200k", lambda: DD.substr_dup_stats(docs, k=8).count(), resample=True)
    timed("lm_perplexity_200k", lambda: LM.ngram_lm_perplexity(docs).count(), resample=True)
    # scale docs carry no lang column; a hash-derived 50/50 split stands in
    # as the DSIR target slice (throughput is what's measured here)
    ldocs = docs.withColumn(
        "lang",
        F.when(H.portable_hash_col(F.col("doc_id"), 7) % 2 == 0, "en").otherwise("de"),
    )
    timed("dsir_weights_200k", lambda: LM.dsir_weights(ldocs).count(), resample=True)
    timed("cms_heavy_hitters_200k", lambda: SK.cms_heavy_hitters(docs).count(), resample=True)

    # --- end-to-end curation funnel at 200k docs (the reference analog of
    # grid wall time / all_runs_summary-2.csv run_time_minutes): one
    # curate_corpus call with per-stage wall seconds and the funnel counts
    # as the artifact ---
    from filtered_ads_vector_search_spark.pipeline.curate import curate_corpus

    gate = (H.portable_hash_col(F.col("doc_id"), 4242) % F.lit(100)) < F.lit(2)
    train, ev = docs.filter(~gate), docs.filter(gate)
    stage_secs: dict = {}
    t0 = time.time()
    # gopher=False / min_quality=0: the scale corpus is synthetic
    # wNNN-token text the published natural-language rules are (correctly)
    # not calibrated for; what this row measures is the funnel's wall time
    # through the dedup/decontaminate/pack machinery at 200k docs
    funnel = curate_corpus(
        spark,
        train,
        f"{DATA}/curated",
        eval_docs=ev,
        min_quality=0.0,
        gopher=False,
        stage_seconds=stage_secs,
    )
    assert funnel["after_near_dedup"] > 0 and funnel["packed_rows"] > 0, funnel
    timings["curate_funnel_200k"] = round(time.time() - t0, 3)
    extras["curate_funnel_counts"] = funnel
    extras["curate_stage_seconds"] = stage_secs

    # --- the same funnel at 1M documents (gen_scale_data writes docs1m/):
    # the scale point where per-stage seconds, not fixed overhead, dominate ---
    docs1m_path = f"{DATA}/docs1m/documents.parquet"
    if os.path.exists(docs1m_path):
        docs1m = spark.read.parquet(docs1m_path)
        gate1m = (H.portable_hash_col(F.col("doc_id"), 4242) % F.lit(100)) < F.lit(2)
        train1m, ev1m = docs1m.filter(~gate1m), docs1m.filter(gate1m)
        stage_secs_1m: dict = {}
        t0 = time.time()
        funnel1m = curate_corpus(
            spark,
            train1m,
            f"{DATA}/curated_1m",
            eval_docs=ev1m,
            min_quality=0.0,
            gopher=False,
            stage_seconds=stage_secs_1m,
        )
        assert funnel1m["after_near_dedup"] > 0 and funnel1m["packed_rows"] > 0
        timings["curate_funnel_1m"] = round(time.time() - t0, 3)
        extras["curate_funnel_1m_counts"] = funnel1m
        extras["curate_stage_seconds_1m"] = stage_secs_1m

    # --- SemDeDup at 1M vectors, paper-regime derived cluster count
    # (ceil(N/50k) = 20 cells, largest ~150k rows): the within-cluster pair
    # work is ~1e9+ pairs per cell, which only the column-sharded BLAS
    # kernel can clear on CPU — the expression form at this shape is the
    # all-day query the guard exists to catch, and the UNsharded kernel was
    # measured >15 min on the 150k straggler cell alone (sharded: ~2 min
    # end-to-end). max_cluster_rows stays at its 200k default — the sidecar
    # read the guard performs is one |clusters|-sized aggregate. ---
    t0 = time.time()
    kept_1m = DD.semdedup_keep(
        emb.select("vec_id", "embedding"),
        n_clusters=None,
        max_cos_dist=SEMDEDUP_1M_THRESHOLD,
    ).count()
    timings["semdedup_keep_1m"] = round(time.time() - t0, 3)
    extras["semdedup_1m_kept"] = kept_1m
    extras["semdedup_1m_threshold"] = SEMDEDUP_1M_THRESHOLD
    extras["semdedup_1m_kept_fraction"] = round(
        kept_1m / (extras["n_corpus"] + extras["n_queries"]), 4
    )

    # --- dimensionality reduction at 1M vectors ---
    from filtered_ads_vector_search_spark.operators import projection as PJ

    jl_corpus = c.select(
        "vec_id", PJ.jl_project(F.col("embedding"), 64, 16).alias("embedding")
    ).cache()
    jl_q = q.select(
        "query_id", PJ.jl_project(F.col("q_vec"), 64, 16).alias("q_vec")
    ).cache()
    timed("jl_project_corpus_1m", lambda: jl_corpus.count())
    jl_q.count()
    t0 = time.time()
    jl_found = TK.knn_scalable(jl_q, jl_corpus, k=10)
    jl_found.cache().count()
    timings["knn_scalable_jl16_100q"] = round(time.time() - t0, 3)
    extras["jl16_recall_vs_exact"] = float(
        recall_at_k(jl_found, truth2, k=10).first()["recall_at_k"]
    )
    jl_found.unpersist()
    jl_corpus.unpersist()
    jl_q.unpersist()

    # PCA: train on a ~5% hash-gated sample (the bounded-train discipline),
    # apply the literal-matrix projection across the full 1M corpus
    t0 = time.time()
    train = c.filter(H.portable_hash_col(F.col("vec_id"), 99) % 20 == 0)
    comps, mean_ = PJ.pca_train(train, vec_col="embedding", out_dim=16)
    timings["pca_train_5pct_sample"] = round(time.time() - t0, 3)
    t0 = time.time()
    pca_corpus = c.select(
        "vec_id", PJ.pca_apply(F.col("embedding"), comps, mean_).alias("embedding")
    )
    n_pca = pca_corpus.count()
    timings["pca_apply_corpus_1m"] = round(time.time() - t0, 3)
    assert n_pca == extras["n_corpus"]

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "scale_bench_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extras": extras,
        "n_vectors": extras["n_corpus"] + extras["n_queries"],
        "dim": 64,
    }
    line = json.dumps(result)
    print(line)
    with open(os.path.join(ROOT, "SCALE_BENCH.json"), "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
