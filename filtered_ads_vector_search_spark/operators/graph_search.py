"""Graph-traversal ANN search — beam search over the corpus k-NN graph.

The reference's HNSW and CAGRA indexes SEARCH by walking a neighborhood
graph: start from entry points, repeatedly score the neighbors of the
current best candidates, keep a bounded best-list, stop after a fixed
number of expansions (CAGRA's fixed-iteration greedy search; HNSW's
ef-bounded best-first walk — utils_grid_search.py:586-686 builds those
indexes, cpu_search/gpu_search walk them). The engine already BUILDS the
graph those indexes are made of (operators/knn_graph.py — CAGRA's index IS
the k-NN graph); this module adds the missing half: the traversal search,
as a statically-unrolled chain of DataFrame joins.

``graph_search(graph, corpus, queries)``: per query —
  1. seed a frontier with ``n_entry`` deterministic entry nodes (the
     md5-hash pick of build_fixed — CAGRA seeds randomly; the hash pick is
     the engine's reproducible analog, and the whole walk becomes
     SQL-expressible over the exact graph);
  2. ``n_hops`` times: expand the frontier along the graph's out-edges,
     union with the frontier, dedup per (query, node), score every
     candidate against the query, keep the ``beam`` best (dist ASC,
     node_id ASC — the engine-wide tie-break);
  3. return the top ``k`` of the final beam as
     (query_id, neighbor_id, rank, dist).

Greedy graph search converges because the k-NN graph is navigable: each
hop moves the beam monotonically closer (the beam never worsens — the
union keeps current members). Fixed ``n_hops`` bounds the walk statically
— the CAGRA policy, not HNSW's dynamic stop, which a declarative plan
cannot express without a driver-side convergence loop. Each hop's scored
relation is materialized (the pagerank / duplicate_components
plan-truncation discipline): the per-hop plan stays constant-size instead
of nesting every previous hop's subtree.

Scale shape (the 100 TB story): the frontier is |Q| x beam rows and every
per-hop relation is frontier-sized (|Q| x beam x degree after expansion) —
NEVER corpus-sized. Each hop broadcasts the frontier against the streaming
edge table (equi-join on src_id) and broadcasts the expanded candidate set
against the streaming corpus (equi-join on the id) — the corpus and the
edge relation are only ever scanned, once per hop, with no shuffle of
either. Candidate distances are recomputed per hop instead of carried
through the union (stateless plan; the rescore is one expression over
frontier-sized rows — at |Q|=10k, beam=32, degree=10 that is 3.2M rows per
hop, trivially cheaper than carrying scored/unscored unions through
outer-join plumbing). An edge layout bucketed on src_id co-locates the
expansion join for free, the same property the IVF layouts get from
partitionBy at write time.

Approximation contract: recall is governed by (n_entry, beam, n_hops) and
the graph's degree — exact when the graph is exact, beam >= corpus, and
n_hops >= graph diameter. The fixed-entry exact-graph configuration is
fully value-oracled in DuckDB (registry: graph_search_fixed, unrolled-CTE
twin); the trained configuration ships under a per-query recall-floor
contract (graph_search_recall), the ann_ivf discipline.

Reference parity: cpu_search HNSW ef-search / gpu_search CAGRA
itopk-bounded traversal (utils_grid_search.py:586-686, 890-951).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize, release
from .topk import Metric, distance_col, topk_agg

__all__ = ["fixed_entry_nodes", "graph_search", "ivf_entries"]


def fixed_entry_nodes(
    corpus: DataFrame, n_entry: int, id_col: str = "vec_id"
) -> DataFrame:
    """The ``n_entry`` corpus ids with the smallest ``(md5(id), id)`` — the
    deterministic, SQL-expressible entry-point pick (same discipline as
    IVFIndex.build_fixed's centroid pick). Returns one column ``node_id``."""
    return (
        corpus.select(F.col(id_col))
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy(F.col("_h").asc(), F.col(id_col).asc())
        .limit(n_entry)
        .select(F.col(id_col).alias("node_id"))
    )


def ivf_entries(
    index, queries: DataFrame, nprobe: int = 2, per_cell: int = 4
) -> DataFrame:
    """(query_id, node_id): coarse-quantizer-routed per-query seeds — for
    each query, ``per_cell`` deterministic members (smallest (md5(id), id),
    the fixed-pick discipline) of each of its ``nprobe`` nearest IVF cells.
    The production seeding shape: entry points land in the query's own
    region of the graph, so far fewer hops reach the true neighborhood
    than from global entries. ``index`` is an IVFIndex (ann.py).

    Scale shape: the probe ranking is the tiny broadcast centroid join;
    cell members come from ONE corpus-scale window whose per-cell limit is
    a WindowGroupLimit (partial before the exchange, ~per_cell rows per
    cell survive); the final join is broadcast-probes against that small
    member relation."""
    from .topk import knn_window

    probes = knn_window(
        queries,
        index.centroids,
        k=nprobe,
        metric="sqeuclidean",
        id_col="centroid_id",
        vec_col="centroid",
    ).select("query_id", F.col("neighbor_id").alias("partition_id"))
    wm = Window.partitionBy("partition_id").orderBy(
        F.md5(F.col("node_id").cast("string")).asc(),
        F.col("node_id").asc(),
    )
    members = (
        index.assigned.select(F.col(index.id_col).alias("node_id"), "partition_id")
        .withColumn("_m", F.row_number().over(wm))
        .filter(F.col("_m") <= per_cell)
        .select("partition_id", "node_id")
    )
    return (
        F.broadcast(probes)
        .join(members, "partition_id")
        .select("query_id", "node_id")
        .distinct()
    )


def graph_search(
    graph: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    beam: int = 16,
    n_hops: int = 3,
    n_entry: int = 4,
    metric: Metric = "sqeuclidean",
    entries: DataFrame | None = None,
    symmetric: bool = True,
    predicate=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Beam search over ``graph`` (an edge table (src_id, neighbor_id, ...)
    as built by knn_graph_window / knn_graph_bucketed): per query the top
    ``k`` of the final beam, as (query_id, neighbor_id, rank, dist).

    ``queries``: (query_id, q_vec). ``entries`` overrides the entry-point
    relation: one ``node_id`` column seeds every query identically; a
    (query_id, node_id) relation seeds per query (e.g. ``ivf_entries`` —
    the coarse-quantizer-routed seeding a production walk uses); default
    is the deterministic ``fixed_entry_nodes`` hash pick.

    ``predicate`` (a Column over corpus columns) runs the FILTERED search
    of the reference's HNSW tier (FAISS ``SearchParametersHNSW(sel=
    IDSelectorBitmap)``, utils_grid_search.py:613-632): the walk traverses
    the graph UNFILTERED (disqualified nodes still route — pruning them
    from the traversal disconnects it under selective filters, the
    documented failure mode FAISS's selector design avoids), while the
    RESULT list collects only passing nodes, accumulated from every
    visited candidate across all hops, final top-k over that list.

    ``symmetric=True`` traverses the graph as if undirected — each hop also
    walks k-NN edges BACKWARD (HNSW links neighbors bidirectionally; CAGRA
    augments reverse edges before its traversal, and a raw directed k-NN
    graph is measurably non-navigable: hub nodes have high in-degree and no
    out-path back). Implemented as a union-all of the reversed edge
    relation — NO distinct and no shuffle (duplicate candidate pairs are
    collapsed by the per-(query, node) dedup each hop already does); the
    cost is one extra streaming scan of the edge table per hop.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if beam < k:
        raise ValueError(f"beam ({beam}) must be >= k ({k})")
    if n_hops < 0:
        raise ValueError("n_hops must be >= 0")
    if entries is None:
        if n_entry < 1:
            raise ValueError("n_entry must be >= 1")
        entries = fixed_entry_nodes(corpus, n_entry, id_col=id_col)

    edges = graph.select(
        F.col("src_id").alias("node_id"), F.col("neighbor_id").alias("_dst")
    )
    if symmetric:
        edges = edges.unionByName(
            graph.select(
                F.col("neighbor_id").alias("node_id"),
                F.col("src_id").alias("_dst"),
            )
        )
    nodes = corpus.select(F.col(id_col).alias("node_id"), F.col(vec_col))
    passing = (
        corpus.filter(predicate).select(F.col(id_col).alias("node_id"))
        if predicate is not None
        else None
    )
    q = queries.select("query_id", "q_vec")

    d, asc = distance_col(metric, F.col("q_vec"), F.col(vec_col))

    def score_all(cand: DataFrame) -> DataFrame:
        # (query_id, node_id) -> every candidate scored. The candidate set
        # is frontier-sized: broadcast it against the streaming corpus so
        # the corpus never shuffles; queries are the tiny side of the final
        # join.
        # INVARIANT (load-bearing for beam_cut): scoring must stay a pure
        # deterministic expression so that a candidate reached from several
        # frontier members scores BIT-IDENTICALLY — beam_cut's
        # topk_agg(dedup=True) relies on array_distinct collapsing those
        # duplicate (dist, node_id) rows. Moving this to a batch kernel with
        # non-bit-stable arithmetic would silently let duplicates survive
        # into the beam.
        return (
            F.broadcast(cand).join(nodes, "node_id")
            .join(F.broadcast(q), "query_id")
            .withColumn("dist", d)
            .select("query_id", "node_id", "dist")
        )

    def beam_cut(scored: DataFrame) -> DataFrame:
        # dedup + beam in ONE aggregation (the topk_agg form): a candidate
        # reached from several frontier members scores bit-identically, so
        # array_distinct IS the dedup, and sort+slice replaces the
        # row_number window — one exchange per hop instead of two (the
        # (query, node) distinct + the window repartition). Tie-break and
        # membership are identical to the window form (dist asc|desc,
        # node_id asc; asserted by topk_agg's cross-form test).
        return topk_agg(
            scored.withColumnRenamed("node_id", "neighbor_id"),
            beam,
            asc=asc,
            dedup=True,
        ).select(
            "query_id",
            F.col("neighbor_id").alias("node_id"),
            "dist",
            F.col("rank").alias("_r"),
        )

    # hop 0: the seeded frontier. A (query_id, node_id) entries relation
    # seeds per query; a bare node_id relation seeds every query with the
    # same nodes (tiny crossJoin |Q| x n_entry).
    if "query_id" in entries.columns:
        seeds = entries.select("query_id", "node_id")
    else:
        seeds = q.select("query_id").crossJoin(F.broadcast(entries))
    # Each hop references its scored relation twice (beam cut + the result
    # accumulator) and the frontier twice (expansion source + union
    # member) — without plan truncation the lazy subtree doubles per hop
    # (2^n_hops plan/execution blowup, measured as 240 s for a 6-hop search
    # of 45 queries). A lazy persist() dedups EXECUTION but not the LOGICAL
    # plan: every downstream action still carries the whole nested tree
    # through analysis, and AQE re-renders the full plan string on every
    # stage update (AdaptiveSparkPlanExec.onUpdatePlan -> explainString),
    # which is what actually dominated — a 6-hop walk pinned the driver
    # single-core for >25 min in PlanStringConcat with 18 GB of plan
    # strings. Materializing per hop truncates the lineage to a leaf (the
    # pagerank / duplicate_components discipline): hop-local
    # constant-size plans, one tiny materialization job per hop.
    # Materialized relations are frontier-sized — bounded at any corpus
    # scale; each hop releases the previous hop's.
    def keep_passing(scored: DataFrame) -> DataFrame:
        # restrict scored rows to selector-passing nodes WITHOUT ever
        # broadcasting the (corpus-scale) passing relation: intersect the
        # frontier-sized distinct node set with the streaming passing
        # relation first (broadcast the small side), then broadcast that
        # tiny intersection back onto the scored rows.
        ok = F.broadcast(scored.select("node_id").distinct()).join(
            passing, "node_id"
        )
        return scored.join(F.broadcast(ok), "node_id")

    # Per hop: expansion and scoring are broadcast joins against the
    # streaming edge/corpus relations (no exchange); the ONLY exchange is
    # beam_cut's fused dedup+top-beam aggregation. Candidates are NOT
    # pre-deduplicated — a node reached via several frontier members is
    # scored once per path (bit-identical rows the aggregation collapses);
    # the candidate relation stays bounded at |Q| x beam x (degree + 1),
    # and trading the duplicate fold evaluations for a whole (query, node)
    # distinct exchange per hop is the win at every scale. Materialization
    # moves to the FRONTIER (|Q| x beam rows, the smallest relation in the
    # walk) — each hop's plan then starts from a leaf and stays
    # constant-size. The filtered path additionally materializes each hop's
    # scored relation (it feeds both the beam and the result accumulator).
    scored = score_all(seeds)
    if passing is not None:
        scored = materialize(scored)
    frontier = materialize(beam_cut(scored))
    visited_passing = keep_passing(scored) if passing is not None else None
    for hop in range(n_hops):
        # the previous hop's materializations, freed once this hop's exist
        stale = [frontier]
        expanded = (
            F.broadcast(frontier.select("query_id", "node_id"))
            .join(edges, "node_id")
            .select("query_id", F.col("_dst").alias("node_id"))
        )
        cand = frontier.select("query_id", "node_id").unionByName(expanded)
        scored_prev, scored = scored, score_all(cand)
        if passing is not None:
            scored = materialize(scored)
            stale.append(scored_prev)
        frontier = materialize(beam_cut(scored))
        if passing is not None:
            # the accumulator is itself a growing union chain — truncate it
            # per hop for the same hop-local-plan reason as scored
            if hop > 0:
                stale.append(visited_passing)
            visited_passing = materialize(
                visited_passing.unionByName(keep_passing(scored))
            )
        release(*stale)

    if passing is not None:
        # the result list: every visited passing node, deduped (the same
        # node visited in two hops scores the same deterministic dist, so
        # topk_agg's dedup collapses it), final top-k — the FAISS-selector
        # semantics
        return topk_agg(
            visited_passing.select(
                "query_id", F.col("node_id").alias("neighbor_id"), "dist"
            ),
            k,
            asc=asc,
            dedup=True,
        )
    return (
        frontier.filter(F.col("_r") <= k)
        .select(
            "query_id",
            F.col("node_id").alias("neighbor_id"),
            F.col("_r").alias("rank"),
            "dist",
        )
    )
