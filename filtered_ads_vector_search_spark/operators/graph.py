"""Iterative graph analytics over relation-shaped edges: damped PageRank.

Complements the connected-components tier (dedup.duplicate_components):
where components answers "which docs are the same cluster",
PageRank ranks WITHIN the similarity graph — e.g. pick the most central
representative of a dup cluster instead of min-id, or rank documents by
citation/link structure.

The implementation is the standard power iteration expressed relationally:
  rank'(v) = (1 - d) / N + d * sum_{u -> v} rank(u) / outdeg(u)
Each round is ONE equi-join (ranks onto edges) + ONE map-combinable
groupBy(dst) sum — the same per-round cost as a label-propagation round —
with the iterate materialized (same plan-truncation discipline as
duplicate_components: a lazy lineage would nest every previous round's
plan). Dangling vertices (no out-edges) redistribute their mass uniformly,
the standard correction, computed as one scalar aggregate per round.

State per round: the N-row rank relation + the edge relation — nothing
quadratic, nothing driver-sized except the dangling-mass scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize, release

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    damping: float = 0.85,
    n_iter: int = 20,
    directed: bool = False,
    round_digits: int = 6,
) -> DataFrame:
    """(node, rank) after ``n_iter`` damped power-iteration rounds.

    ``directed=False`` (the dup-graph case) symmetrizes the edge list first.
    Ranks sum to ~1.0; output is rounded for stable comparison.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    if directed:
        e = e.distinct()
    else:
        e = e.unionAll(e.select(F.col("t").alias("s"), F.col("s").alias("t"))).distinct()
    e = materialize(e)

    nodes = materialize(
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("t").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        release(e)
        return nodes.withColumn("rank", F.lit(0.0))
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # outdeg is LOOP-INVARIANT: attach it to the edge relation once before
    # the loop (guide §2.4 — one join instead of one per round; at 100 TB
    # that removes n_iter shuffles of the edge relation). Materialize the
    # joined relation so every round reads it.
    e_deg = materialize(e.join(outdeg, "s"))

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    done = None  # the last materialized round
    base = (1.0 - damping) / n
    for i in range(n_iter):
        contribs = (
            e_deg.join(ranks, e_deg["s"] == ranks["node"])
            .select(F.col("t").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling mass: rank held by vertices with no out-edges (possible
        # in the directed case) is spread uniformly
        if directed:
            dangling = (
                ranks.join(outdeg, ranks["node"] == outdeg["s"], "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
                .collect()[0]["m"]
            )
        else:
            dangling = 0.0
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(damping)
                * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.lit(dangling / n))
            ).alias("rank"),
        )
        # plan truncation every OTHER round (every round when directed —
        # the dangling collect is an action over the lazy iterate): a
        # 2-round lineage is two joins + one aggregate deep, well inside
        # planning cost, and halving the eager materialization jobs halves the
        # per-round fixed cost that dominates PageRank at bench scale.
        if directed or i % 2 == 1 or i == n_iter - 1:
            ranks = materialize(ranks)
            if done is not None:
                release(done)
            done = ranks
    release(e, nodes, e_deg)
    return ranks.select("node", F.round("rank", round_digits).alias("rank"))
