"""Regenerate EXPLAIN.md — annotated physical plans for the flagship queries.

Usage: python scripts/gen_explain_doc.py [sf_dir]
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from filtered_ads_vector_search_spark import registry
from filtered_ads_vector_search_spark.operators import filters as FL
from filtered_ads_vector_search_spark.operators import topk as TK
from filtered_ads_vector_search_spark.operators.ann import IVFIndex
from filtered_ads_vector_search_spark.plans import physical_plan
from filtered_ads_vector_search_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

NOTES = {
    "Filtered exact top-k (window form)": """\
- The rating-bucket predicate is a `Filter` directly above the corpus scan — **below** the join and window: filter-before-top-k is a plan property.
- `WindowGroupLimit ... Partial` runs **before** the `Exchange`: each task keeps only k rows per query (map-side top-k, the argpartition analog), so the shuffle carries `tasks x queries x k` rows, never the full cross product.
- `BroadcastNestedLoopJoin BuildLeft` broadcasts the **query** matrix; the corpus only streams.""",
    "IVF probe search": """\
- Probe list (queries x nprobe rows) is `BroadcastExchange`d into a `BroadcastHashJoin` on `partition_id`: the corpus is never shuffled or broadcast.
- Distance + `WindowGroupLimit` run on the joined candidates only (~nprobe/n_centroids of the corpus).
- Against the written layout (`IVFIndex.load`), the same join adds `dynamicpruning` on `partition_id` — probes read only their partition directories (asserted in tests).""",
    "TPC-H Q5 join tree": """\
- Dimension tables (`region`, `nation`, `customer`, `supplier`) enter as `BroadcastHashJoin`s; `lineitem` — the fact — streams through every join without a shuffle.
- Aggregation is `partial_sum` (map-side) then a single `Exchange hashpartitioning(n_name)` on the tiny group key.
- At 100 TB, AQE re-plans any dimension too large to broadcast into a sort-merge join at runtime; the declarative plan is unchanged.""",
    "TPC-H Q6 pushdown": """\
- `PushedFilters` on the parquet scan carries the shipdate/discount/quantity predicates; `ReadSchema` prunes to the 4 referenced columns.
- One partial/final aggregate pair; no join, one exchange of a single row.""",
    "LSH bucket search (fused top-k)": """\
- The whole key pipeline (hyperplane dots -> per-table buckets -> (table, bucket) structs) is **generated columns inside the scan projection** — one pass, no shuffle to build keys.
- One `BroadcastHashJoin` on the composite key replaces n_tables separate joins; the corpus-side explode is a narrow in-scan fan-out.
- Dedup + rank fuse into ONE `ObjectHashAggregate` (`collect_list` -> sort -> distinct -> slice): a single `Exchange` carrying `(query_id, dist, neighbor_id)` doubles — the window form would need a second one.""",
    "As-of join (union-window form)": """\
- Both sides union into one relation; a single `Exchange hashpartitioning(user_id)` + in-partition sort drive the running `last(..., ignorenulls)` — the exact cost of ONE sort-merge-join shuffle, with no row explosion for wide time gaps.
- The right row rides along as a struct column, so payload width never multiplies the sort key data.""",
    "IVF search (Arrow DGEMM kernel form)": """\
- The probed-bucket scan carries a STATIC `partition_id IN (...)` filter (probe ranking happens driver-side over the collected query matrix — bounded by the kernel's 100k-query cap; `search_sharded` handles larger batches), so pruning is visible in the scan, not deferred to a runtime join.
- ONE `MapInArrow score(...)` node scores each bucket with a single DGEMM over the flat-buffer-decoded vector matrix (`arrow_score=True`, the IVF family's one Arrow form: same ids and ranks as the expression form, distances to last-ulps) and emits per-bucket local top-k partials.
- The shared per-query `WindowGroupLimit` merge re-ranks the partials by (dist, neighbor_id) — the same tail as every other top-k form. 5M x 10k queries: 125 s (HOF expression era) -> 15.3 s on this plan.""",
    "IVFPQ search (residual ADC + exact rerank)": """\
- The probe list carries one residual LUT per (query, probed bucket) — computed on the broadcast side; the coded corpus enters through ONE `BroadcastHashJoin` on `partition_id` and only ever streams.
- The ADC score is an m-step `aggregate` of two array lookups inside `WholeStageCodegen` — no Python, no vector bytes in flight; only the ADC top-R shortlist touches full vectors for the exact rerank.
- Both rank windows are `WindowGroupLimit` partial+final; the second sees <= R rows per query. Against the written layout (`IVFPQIndex.load`), the probe join adds partition pruning on the codes directories.""",
    "DSIR importance scoring": """\
- The feature space is a FIXED 4096 hash buckets, so both count relations collapse to <= 4096 rows and the per-bucket lambda table enters the score join as a `BroadcastHashJoin` — no `SortMergeJoin` anywhere (asserted in tests).
- The exploded corpus is touched twice (featurize, score) and the only corpus-keyed `Exchange` is the final map-combinable `groupBy(doc_id)` partial/final aggregate pair.""",
    "Bloom-prefiltered decontamination": """\
- The eval shingle set folds into a 128-long bitmap LITERAL; the bit test (`element_at` + shift + mask) sits in the scan-side `Filter` inside `WholeStageCodegen` — training shingles that miss the bitmap never reach the join.
- The exact equi-join after the prefilter kills Bloom false positives, so the plan change is invisible in the result (it shares the exact form's oracle); both the bitmap keys and the join use the same 60-bit shingle hash, so the contract is exact even under collisions.
- The bitmap auto-sizes from the eval shingle count; past 1024 words it ships as ONE Spark broadcast consumed by an Arrow-batched bit test (a single `ArrowEvalPython` filter node) instead of growing the literal expression — still scan-side pruning + a near-empty join.""",
    "IVFPQ search (Arrow ADC kernel form)": """\
- Same logical search as the expression form (bit-identical rows asserted in tests), different physical scoring: the probed-bucket scan is STATICALLY pruned by an `partition_id IN (...)` `PushedFilters` entry (stronger than the join's dynamic pruning — visible in the scan), and candidates flow into ONE `MapInArrow score(...)` node that reshapes the codes column straight from the Arrow values buffer and scores a whole bucket x query-chunk block per numpy op (the build's fused assign/encode MapInArrow nodes appear only under the cached InMemoryRelation).
- Per-candidate cost drops from an interpreted m-step HOF fold (~1us x m) to a vectorized LUT gather: measured 45.5s -> 7.2s at 1000 queries x 1M corpus rows, 219 vs 61 q/s at the scale bench.
- The kernel emits only local top-R partials per (query, chunk); the shared `WindowGroupLimit` merge and the <= R-rows/query exact rerank are identical to the expression form's tail.""",
    "Bounded-state histogram quantiles": """\
- The bounds relation (one row per group) enters as a `BroadcastHashJoin`; the bin assignment is codegen arithmetic in the scan projection.
- The per-(group, bin) count is a partial/final `HashAggregate` pair — map-side combine collapses each task to <= bins rows per group BEFORE the only corpus-keyed exchange.
- Every operator after that aggregate (cumulative window, quantile pick) runs on <= groups x bins rows — the exact percentile's full per-group sort never happens.""",
}


FORMS = """\
| Family | Form | Registry | perfbench | Package | Tests |
|---|---|---|---|---|---|
| Exact top-k | `knn_window` (expression) | `knn_exact`, `knn_filtered_*`, recall truths | — | IVF/IVFPQ expression probe ranking, graph search | `test_topk`, most recall tests |
| Exact top-k | `knn_scalable` (Arrow, DGEMM) | `knn_scalable_filtered`, `knn_filtered_auto_exact` | `search_batch` exact route | planners' exact tier, grid search | `test_topk`, `test_planner` |
| Exact top-k | `knn_blockwise` (Arrow cogroup) | `knn_blockwise` | — | — | `test_topk` |
| IVF top-k | `IVFIndex.search` (expression) | `ann_ivf`, `ann_ivf_fixed`, `grid_search_ivf`, `knn_filtered_auto_ann` | — | grid search, mining (cosine index) | `test_recall_ann`, `test_planner` |
| IVF top-k | `search(arrow_score=True)` (Arrow, DGEMM) | `knn_sharded` | `search_batch` ann route | mining (`bitext_mine_ann`, `hard_negatives_ann`) | `test_recall_ann`, `test_planner` |
| IVF range | `range_search` (expression) | `range_search_ivf`, `range_filtered_auto_ann` | — | range planner | `test_range_graph`, `test_planner` |
| Exact range | `range_window` / `range_scalable` | `range_search_exact`, `range_search_filtered`, `range_filtered_auto` / `range_search_scale`, `range_density` | — | range planner (`range_window`) | `test_range_graph`, `test_recall_ann` |
| IVFPQ | `IVFPQIndex.search` (expression ADC) | `knn_ivfpq_fixed`, `knn_ivfpq_rerank`, `grid_search_ivfpq` | — | grid search | `test_recall_ann`, `test_planner` |
| IVFPQ | `search(arrow_adc=True)` (Arrow ADC fold) | `knn_ivfpq_decomposed` | — | — | `test_recall_ann`, `test_planner` |
| PQ encode | `pq_encode_expr` / `pq_encode_residual_expr` | `pq_codes`, `knn_pq_adc` | — | — | `test_pq` |
| PQ encode | `pq_encode_with_codes_arrow` (Arrow fold) | `pq_codes_blas`, OPQ queries | `ingest_build` does not build IVFPQ | every IVFPQ build and append | `test_pq`, `test_empty_inputs` |
| LSH | `search(kernel="expr")` | — | — | — | `test_lsh` |
| LSH | `search(kernel="arrow")` (default) | `ann_lsh`, `grid_search_lsh` | — | grid search | `test_lsh`, `test_recall_ann` |
| k-NN graph | `knn_graph_window` / `knn_graph_bucketed(kernel="expr")` | `knn_graph_exact` / `knn_graph_fixed` | — | — | `test_range_graph`, `test_graph_search` |
| k-NN graph | `knn_graph_bucketed(kernel="arrow")` | `graph_search_recall` | — | — | `test_range_graph` |
| SemDeDup | `semdedup_keep` (Arrow, column-sharded BLAS) | `semdedup_keep` | — | — | `test_quality_pii` |

Kept on purpose although they add a form: `knn_blockwise` is the only exact
form that runs past the query-collect cap; LSH `kernel="expr"` is the only
form for hamming and the reference the Arrow form is tested against.
Deleted: the IVF element-fold top-k form, the IVFPQ decomposed-LUT ADC
form and its per-worker cache, the pandas-UDF PQ encode, the DGEMM PQ
encode, the k-NN graph's DGEMM probe ranking, the IVF range Arrow form,
the SemDeDup expression keep (pairs + anti-join) and the large-star/
small-star connected components.""".splitlines()


def _ivfpq_search(c, q, arrow=False):
    from filtered_ads_vector_search_spark.operators.ivfpq import IVFPQIndex

    return IVFPQIndex.build_fixed(c, n_centroids=16, m=4, n_codes=16).search(
        q, k=10, nprobe=4, rerank=30, arrow_adc=arrow
    )


def _lsh_search(c, q):
    from filtered_ads_vector_search_spark.operators.lsh import LSHIndex

    # the expression form: the notes below describe its join + fused rank
    return LSHIndex.build(c, n_bits=4, n_tables=4, seed=42).search(
        q, k=10, kernel="expr"
    )


def main() -> None:
    spark = get_spark(app_name="explain-doc", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q, c = TK.split_queries(emb)
    ch = FL.with_rating_bucket(c).filter(FL.named_filter_predicate("high_rated"))
    idx = IVFIndex.build(c, n_centroids=16, seed=42)

    dfs = {
        "Filtered exact top-k (window form)": TK.knn_window(q, ch, k=10),
        "IVF probe search": idx.search(q, k=10, nprobe=4),
        "IVF search (Arrow DGEMM kernel form)": idx.search(
            q, k=10, nprobe=4, arrow_score=True
        ),
        "TPC-H Q5 join tree": registry.QUERIES["tpch_q5"](spark, SF),
        "TPC-H Q6 pushdown": registry.QUERIES["tpch_q6"](spark, SF),
        "LSH bucket search (fused top-k)": _lsh_search(c, q),
        "As-of join (union-window form)": registry.QUERIES["event_attribution"](spark, SF),
        "IVFPQ search (residual ADC + exact rerank)": _ivfpq_search(c, q),
        "IVFPQ search (Arrow ADC kernel form)": _ivfpq_search(c, q, arrow=True),
        "DSIR importance scoring": registry.QUERIES["dsir_weights"](spark, SF),
        "Bloom-prefiltered decontamination": registry.QUERIES["decontaminate_bloom"](spark, SF),
        "Bounded-state histogram quantiles": registry.QUERIES["hist_quantiles"](spark, SF),
    }
    out = [
        "# EXPLAIN — annotated physical plans (generated by scripts/gen_explain_doc.py at sf0.01)",
        "",
        "The engine's scale properties are plan properties. `tests/test_plan_properties.py`",
        "asserts the load-bearing ones; this document shows the actual plans.",
        "",
        "Seven engine-wide rules shape every plan below:",
        "",
        "- **Parallelism comes from the data.** A scan runs one task per input split;",
        "  a shuffle runs `spark.sql.shuffle.partitions` tasks (AQE coalesces them).",
        "  No operator repartitions for parallelism or asks an input for its",
        "  partition count, so building a lazily returned result launches no Spark",
        "  job. The only repartitions left group rows by a key (index buckets,",
        "  compaction, Z-order layouts).",
        "- **A testdata table is read with its footer-declared schema; building a",
        "  registry query launches a job only for trained artifacts or iterative",
        "  rounds.** `datasets.table_schema` reads the Parquet footer on the driver",
        "  (`timestamp_ntz` for naive timestamps, `bigint` for the legacy",
        "  `timestamp[ns]` vintage), and `load_table` and the stream loaders declare",
        "  it, so no read runs Spark's schema-inference job.",
        "- **One way to materialize.** An intermediate read more than once, or an",
        "  iterative round whose lineage must be cut, goes through",
        "  `materialize(df)` (`filtered_ads_vector_search_spark/materialize.py`):",
        "  eager, lineage-truncating, written to the checkpoint directory when the",
        "  SparkContext has one (it then survives executor loss) and kept in the",
        "  executors' block managers otherwise. `release(df)` frees it; loops release",
        "  superseded rounds. The index artifacts (`IVFIndex.assigned`,",
        "  `IVFPQIndex.coded`, `LSHIndex.tagged`, the selectivity samples) stay",
        "  `persist()`ed and each index's `unpersist()` frees them.",
        "  A funnel count is an `observe()` on a materialization (or write) the",
        "  next stage reads, never a second action; the observed node appears once",
        "  in that plan (a node read twice may run once, or not at all).",
        "- **An index holds one driver-side centroid matrix; selectivity is",
        "  estimated once per (index, predicate).** The Arrow kernels rank probes",
        "  over `centroid_matrix(index)` (the float32 values the `centroids`",
        "  relation stores, cached on the index by its build or load), and the",
        "  planners memoize each predicate's sample estimate until `unpersist()`.",
        "  Planning a filtered search the index has seen before launches no job;",
        "  the `centroids` relation stays for the expression-path probe join.",
        '- **An index layout is one module and one manifest; load runs no metadata',
        '  job.** IVF, IVFPQ and LSH write, load, append to and compact their',
        '  bucketed layouts through `operators/index_layout.py`. The driver-side',
        '  state of a layout (centroid matrix, codebooks, OPQ rotation, hyperplanes,',
        '  metric, id and vector columns, sample fraction, Parquet schemas) is one',
        '  JSON manifest, `{path}/_layout.json`, written last through the Hadoop FS',
        '  under a temporary name and renamed into place. `load` reads it and',
        '  declares the Parquet relations with their known schemas, so a layout of',
        '  at most 32 buckets loads with no Spark job; a directory without a',
        '  manifest is refused with a `ValueError` naming it.',
        '- **One Arrow scan-and-top-k kernel, one top-k merge (`topk_agg`).** Every',
        '  Arrow search form (exact k-NN and range, IVF top-k, IVFPQ ADC,',
        '  LSH, the blockwise and k-NN-graph cogroups) runs `topk.scan_topk` or its',
        '  per-group routine `topk_group` and supplies only its candidate groups',
        '  and its scorer. Every per-query merge is `topk_agg`: the row_number',
        '  window (partial `WindowGroupLimit` before the exchange) when candidates',
        '  cannot repeat, one dedup aggregation when they can.',
        '- **One Arrow form per index family, one switch.** A family keeps its',
        '  expression form where a registry oracle needs it and at most one Arrow',
        '  form. IVF `arrow_score`, IVFPQ `arrow_adc` and the top-k planner\'s `arrow`',
        '  mean the same thing (`topk.arrow_switch`): `False` is the expression',
        '  form, `True` (or its spelling `"blas"`) the Arrow form, anything else a',
        '  `ValueError`. The forms and who calls them:',
        "",
        *FORMS,
        "",
    ]
    for title, df in dfs.items():
        plan = "\n".join(l[:200] for l in physical_plan(df, "simple").splitlines()[:28])
        out += [f"## {title}", "", "```", plan, "```", "", NOTES[title], ""]
    with open(os.path.join(ROOT, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print("EXPLAIN.md regenerated")
    spark.stop()


if __name__ == "__main__":
    main()
