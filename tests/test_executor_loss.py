"""Iterative operators survive executor loss when the SparkContext has a
checkpoint directory: materialize() then writes each round to reliable
storage instead of the executors' block managers.

The scenario runs in a subprocess on a two-executor ``local-cluster``
master, because the suite's session fixture owns this process's
SparkContext. It builds the components and PageRank results, kills
executor 0 (which holds part of every materialized round), then reads
both results back. With ``localCheckpoint`` the read fails with
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
"""

import json
import os
import subprocess
import sys
import textwrap

from test_graph import _np_pagerank

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHAINS = [(i, i + 1) for i in range(5)] + [(100 + i, 101 + i) for i in range(3)]

SCENARIO = textwrap.dedent(
    """
    import json, sys, time
    from pyspark.sql import SparkSession

    from filtered_ads_vector_search_spark.operators.dedup import duplicate_components
    from filtered_ads_vector_search_spark.operators.graph import pagerank

    checkpoint_dir, pairs = sys.argv[1], json.loads(sys.argv[2])
    spark = (
        SparkSession.builder.master("local-cluster[2,1,1024]")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        # keep two partitions per round so both executors hold blocks
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("OFF")
    sc.setCheckpointDir(checkpoint_dir)
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long").repartition(2)
    comp = duplicate_components(edges)
    ranks = pagerank(edges, n_iter=4)
    n_before = sc._jsc.sc().getExecutorMemoryStatus().size()
    sc._jsc.sc().killExecutor("0")
    deadline = time.time() + 60
    while sc._jsc.sc().getExecutorMemoryStatus().size() >= n_before:
        assert time.time() < deadline, "executor 0 was not removed"
        time.sleep(0.2)
    print(json.dumps({
        "components": {r.doc_id: r.component_id for r in comp.collect()},
        "ranks": {r.node: r.rank for r in ranks.collect()},
    }))
    spark.stop()
    """
)


def test_components_and_pagerank_survive_executor_loss(tmp_path):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    ))
    proc = subprocess.run(
        [sys.executable, "-c", SCENARIO, str(tmp_path / "checkpoints"), json.dumps(CHAINS)],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])

    components = {int(k): v for k, v in out["components"].items()}
    want = {v: (0 if v < 100 else 100) for pair in CHAINS for v in pair}
    assert components == want

    nodes = sorted(want)
    index = {v: i for i, v in enumerate(nodes)}
    expected = _np_pagerank(
        len(nodes), [(index[a], index[b]) for a, b in CHAINS], n_iter=4
    )
    ranks = {int(k): v for k, v in out["ranks"].items()}
    assert set(ranks) == set(nodes)
    for v in nodes:
        assert abs(ranks[v] - expected[index[v]]) < 1e-6, (v, ranks[v])
