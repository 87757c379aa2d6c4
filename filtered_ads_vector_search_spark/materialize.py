"""The engine's one way to materialize an intermediate DataFrame.

``materialize(df)`` runs ``df`` once, eagerly, and returns a DataFrame whose
plan is a single leaf over the computed rows. Operators use it where a
relation is read more than once (a signature table feeding both join sides,
a vocabulary feeding two branches) and where an iterative loop must cut its
lineage each round — otherwise every round's plan nests the previous one
and analysis time grows with the round count.

* With a checkpoint directory on the SparkContext
  (``sc.setCheckpointDir``), the rows are written there by ``checkpoint()``:
  reliable storage that survives the loss of the executor that computed
  them.
* Without one, ``localCheckpoint()`` keeps the rows in the executors' block
  managers: faster, but a lost executor loses its blocks and any later read
  of them fails.

Why not ``cache()``/``persist()``: those register a CacheManager entry that
any later plan with a matching subtree silently reads, and they are lazy, so
a count is needed to fill them. ``materialize`` truncates the plan and is
eager by construction.

``release(*dfs)`` frees every materialization that ``dfs`` read: it
unpersists the checkpointed RDD under each such leaf (the one RDD a local
checkpoint adds to the SparkContext's persistent set) and deletes a reliable
checkpoint's files. Loops release each superseded round once the next one is
materialized; a caller that consumes a lazily returned operator result
releases that result after its last action. Scans and ``createDataFrame``
inputs are left alone. Do not release a frame that also reads materialized
inputs someone else still uses.

The index artifacts (``IVFIndex.assigned``, ``IVFPQIndex.coded``,
``LSHIndex.tagged``, the selectivity samples) are the exception and stay
``persist()``: search reads them as in-memory columnar scans, and each
index's ``unpersist()`` releases them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["materialize", "release"]


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and return it as a lineage-free leaf (see module
    docstring for where the rows live)."""
    if df.sparkSession.sparkContext._jsc.getCheckpointDir().isPresent():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release(*dfs: DataFrame) -> None:
    """Free the materializations each of ``dfs`` reads. Idempotent."""
    for df in dfs:
        sc = df.sparkSession.sparkContext
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() != "LogicalRDD":
                continue
            rdd = leaf.rdd()
            if not rdd.isCheckpointed():
                continue
            rdd.unpersist(False)
            path = rdd.getCheckpointFile()
            if path.isDefined():
                hpath = sc._jvm.org.apache.hadoop.fs.Path(path.get())
                hpath.getFileSystem(sc._jsc.hadoopConfiguration()).delete(hpath, True)
