"""Lexical BM25 + RRF hybrid fusion (operators/textsearch.py)."""

from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.operators import textsearch as TS

from conftest import SF_TEST


def test_bm25_ranks_matching_docs_first(spark):
    """A document containing every query term must outrank one sharing no
    terms; a doc repeating the rare term beats one mentioning it once."""
    docs = spark.createDataFrame(
        [
            (1, "zebra quantum flux"),
            (2, "zebra zebra quantum"),
            (3, "table chair lamp"),
            (4, "quantum flux zebra flux"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame([(1, "zebra quantum flux")], "query_id int, query_text string")
    out = TS.bm25_search(docs, qs, k=4).collect()
    ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert 3 not in ranked  # no shared term -> no row at all
    assert set(ranked) == {1, 2, 4}
    assert ranked[0] in (1, 4)  # all three terms beat two-term doc 2
    assert all(r["score"] > 0 for r in out)


def test_bm25_idf_downweights_common_terms(spark):
    """A term present in every document contributes ~nothing; a rare term
    dominates — the idf property."""
    docs = spark.createDataFrame(
        [(i, "common filler words " + ("needle" if i == 7 else "hay")) for i in range(1, 11)],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame([(1, "common needle")], "query_id int, query_text string")
    out = TS.bm25_search(docs, qs, k=1).collect()
    assert out[0]["doc_id"] == 7


def test_bm25_on_documents_table(spark):
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    qs = spark.createDataFrame(
        [(1, "spark window agg"), (2, "vector scan filter")],
        "query_id int, query_text string",
    )
    out = TS.bm25_search(docs, qs, k=10)
    rows = out.collect()
    assert len(rows) == 20  # k rows per query on this vocabulary-rich corpus
    assert {r["query_id"] for r in rows} == {1, 2}
    # ranks are 1..k per query with strictly non-increasing scores
    for qid in (1, 2):
        qr = sorted([r for r in rows if r["query_id"] == qid], key=lambda r: r["rank"])
        assert [r["rank"] for r in qr] == list(range(1, 11))
        scores = [r["score"] for r in qr]
        assert scores == sorted(scores, reverse=True)


def test_rrf_fusion_rewards_presence_in_both_lists(spark):
    """A doc ranked mid-list in BOTH rankers outranks a doc that tops one
    list but misses the other (1/(60+2)+1/(60+2) > 1/(60+1))."""
    a = spark.createDataFrame(
        [(1, 100, 1), (1, 200, 2), (1, 300, 3)], "query_id int, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(1, 200, 2), (1, 400, 1), (1, 300, 5)], "query_id int, doc_id long, rank int"
    )
    out = {r["doc_id"]: r for r in TS.rrf_fuse(a, b, k=10).collect()}
    assert out[200]["rank"] == 1  # in both lists
    assert set(out) == {100, 200, 300, 400}
    # doc 300 in both lists at (3, 5) still beats single-list docs 100/400?
    # 1/63 + 1/65 = 0.0312 > 1/61 = 0.0164 — yes
    assert out[300]["rank"] == 2


def test_bm25_index_layout_matches_in_memory_and_prunes(spark, tmp_path):
    """The written term-index layout must return EXACTLY the in-memory BM25
    results (same order-fixed fold), and its posting scan must carry a
    partition filter on term_bucket — the lexical tier's analog of the ANN
    layouts' bucket pruning."""
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    qs = spark.createDataFrame(
        [(1, "spark window agg"), (2, "vector scan filter")],
        "query_id int, query_text string",
    )
    path = str(tmp_path / "term_index")
    TS.write_term_index(docs, path, n_buckets=16)

    mem = sorted(map(tuple, TS.bm25_search(docs, qs, k=10).collect()))
    idx = TS.bm25_search_index(spark, path, qs, k=10)
    assert sorted(map(tuple, idx.collect())) == mem and len(mem) > 0

    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "term_bucket" in plan, plan[:2000]


def test_bm25_index_append_and_compact(spark, tmp_path):
    """Incremental term-index maintenance: batch appends are idempotent per
    batch id, search over base+batches equals a from-scratch index on the
    union corpus (df/meta reconstruct additively), and compaction folds the
    batches in without changing any result."""
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    qs = spark.createDataFrame(
        [(1, "spark window agg"), (2, "vector scan filter")],
        "query_id int, query_text string",
    )
    path = str(tmp_path / "tidx")
    TS.write_term_index(old, path, n_buckets=16)

    TS.append_to_term_index(spark, path, new, batch_id=7)
    TS.append_to_term_index(spark, path, new, batch_id=7)  # replay: idempotent

    full = str(tmp_path / "tidx_full")
    TS.write_term_index(docs, full, n_buckets=16)
    want = sorted(map(tuple, TS.bm25_search_index(spark, full, qs, k=10).collect()))
    got = sorted(map(tuple, TS.bm25_search_index(spark, path, qs, k=10).collect()))
    assert got == want and len(want) > 0

    n = TS.compact_term_index(spark, path)
    assert n > 0
    import pathlib

    assert not (pathlib.Path(path) / "batches").exists()
    assert not (pathlib.Path(path) / "batches__compacting").exists()
    after = sorted(map(tuple, TS.bm25_search_index(spark, path, qs, k=10).collect()))
    assert after == want


def test_compact_term_index_crash_retry_no_double_fold(spark, tmp_path):
    """Crash-safety of the snapshot+marker compaction protocol.

    (1) crash BEFORE the commit marker: the batch set is already parked in
    batches__compacting and stale __compact_tmp dirs exist — readers still
    see exactly one copy of every batch, and a retry folds from the same
    base+snapshot state (no double-counted doc lengths / df).
    (2) crash DURING the commit (marker written, some relations swapped):
    the next call finishes the commit idempotently."""
    from filtered_ads_vector_search_spark.operators.index_layout import (
        _snapshot_batches,
        _write_commit_marker,
    )

    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    qs = spark.createDataFrame(
        [(1, "spark window agg"), (2, "vector scan filter")],
        "query_id int, query_text string",
    )
    full = str(tmp_path / "tidx_full")
    TS.write_term_index(docs, full, n_buckets=16)
    want = sorted(map(tuple, TS.bm25_search_index(spark, full, qs, k=10).collect()))

    # --- (1) pre-marker crash: snapshot taken, one stale tmp staged
    path = str(tmp_path / "tidx_crash1")
    TS.write_term_index(old, path, n_buckets=16)
    TS.append_to_term_index(spark, path, new, batch_id=7)
    _snapshot_batches(spark, path)  # "crashed" run froze the batch set...
    # ...and had staged a doclen tmp before dying (stale content on retry)
    spark.range(1).selectExpr(
        "cast(id as long) AS doc_id", "cast(999 as long) AS dl"
    ).write.parquet(f"{path}/doclen__compact_tmp")
    # readers still see base + snapshot = exactly one copy of every batch
    mid = sorted(map(tuple, TS.bm25_search_index(spark, path, qs, k=10).collect()))
    assert mid == want
    # a streaming REPLAY of the same (uncommitted) batch id lands in
    # batches/ while the parked copy sits in the snapshot: readers must
    # dedupe by batch name (no double-counted doc lengths / df) and the
    # retrying compaction must merge without losing either copy
    TS.append_to_term_index(spark, path, new, batch_id=7)
    replay = sorted(map(tuple, TS.bm25_search_index(spark, path, qs, k=10).collect()))
    assert replay == want
    TS.compact_term_index(spark, path)  # retry: recomputes, no double-fold
    got = sorted(map(tuple, TS.bm25_search_index(spark, path, qs, k=10).collect()))
    assert got == want

    # --- (2) mid-commit crash: all tmps staged + marker written, nothing
    # swapped yet; the next compact_term_index call must finish the commit
    path2 = str(tmp_path / "tidx_crash2")
    TS.write_term_index(old, path2, n_buckets=16)
    TS.append_to_term_index(spark, path2, new, batch_id=3)
    _snapshot_batches(spark, path2)
    from filtered_ads_vector_search_spark.operators.index_layout import _read_sidecar

    _read_sidecar(spark, path2, "doclen").write.parquet(
        f"{path2}/doclen__compact_tmp"
    )
    _read_sidecar(spark, path2, "stats").groupBy("term").agg(
        F.sum("df").alias("df")
    ).write.parquet(f"{path2}/stats__compact_tmp")
    _read_sidecar(spark, path2, "meta").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_dl").alias("sum_dl"),
        F.max("n_buckets").alias("n_buckets"),
    ).coalesce(1).write.parquet(f"{path2}/meta__compact_tmp")
    from filtered_ads_vector_search_spark.operators.index_layout import _read_layout

    _read_layout(spark, path2, "terms").write.partitionBy("term_bucket").parquet(
        f"{path2}/terms__compact_tmp"
    )
    _write_commit_marker(spark, path2)
    TS.compact_term_index(spark, path2)  # finishes the crashed commit first
    import pathlib

    assert not (pathlib.Path(path2) / "batches").exists()
    assert not (pathlib.Path(path2) / "batches__compacting").exists()
    assert not (pathlib.Path(path2) / "__compact_commit").exists()
    got2 = sorted(map(tuple, TS.bm25_search_index(spark, path2, qs, k=10).collect()))
    assert got2 == want
    # bounded files per bucket after compaction
    for bdir in (pathlib.Path(path) / "terms").glob("term_bucket=*"):
        assert len(list(bdir.glob("*.parquet"))) <= 1, bdir
