"""Streaming document curation: the stateless funnel stages as one
stream-safe transform.

A continuously-arriving corpus (crawl output landing as files, a Kafka-fed
document topic) wants the PER-DOCUMENT curation stages applied on arrival,
long before a batch dedup pass runs: min-token + quality gate, PII
redaction, and decontamination against the (bounded, static) eval shingle
set. All three are STATELESS row transforms — no watermark, no state store,
no output-mode subtleties — so the exact batch expressions compose onto a
streaming DataFrame unchanged, and stream output == batch output row for
row (asserted in tests with an availableNow file stream).

Corpus-level stages (exact/near dedup, packing) are inherently cross-row;
streaming flavors exist separately where bounded state allows
(streaming/dedup.py's dropDuplicatesWithinWatermark); the rest stays in the
batch funnel (pipeline/curate.py) by design.

The decontamination gate reuses the Bloom-bitmap prefilter contract
(operators/dedup.py): the eval side is a STATIC benchmark corpus folded
once into bounded bit positions; per-row bit tests need no join at all in
the stream — a false positive here only over-drops (documented; the exact
join-back requires the batch path), so the streaming gate applies the
EXACT shingle-set membership via a broadcast set instead, which is
precise and still bounded by the eval corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..datasets import stream_table
from ..functions import text as T
from ..functions.text import word_shingles
from ..functions.hashing import str_hash_col

__all__ = ["curate_stream_transform", "stream_documents"]


def stream_documents(spark, sf_dir: str) -> DataFrame:
    """File-source document stream over the testdata parquet (one file per
    trigger with availableNow — the batch-twin harness other streaming
    surfaces use)."""
    return stream_table(spark, sf_dir, "documents")


def curate_stream_transform(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    min_tokens: int = 8,
    min_quality: float = 0.3,
    decontam_ngram: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Apply the stateless curation stages to a (possibly streaming)
    documents DataFrame: quality gate -> PII redaction -> decontamination.
    Returns (doc_id, text, n_tok) of surviving docs, text redacted.

    ``eval_docs`` must be a STATIC (batch) DataFrame — its distinct shingle
    hashes are collected once (bounded by the benchmark corpus size, the
    same broadcast discipline as the batch decontaminate) and the gate is a
    scan-side `arrays_overlap` against the broadcast literal set; a
    stream-stream formulation is deliberately unsupported (benchmark sets
    are static by definition)."""
    gated = docs.select(
        "doc_id",
        F.col(text_col).alias("text"),
        T.token_count(F.col(text_col)).alias("n_tok"),
        T.quality_score(F.col(text_col)).alias("q"),
    ).filter((F.col("n_tok") >= min_tokens) & (F.col("q") >= min_quality))
    red = gated.select(
        "doc_id",
        T.pii_redact(F.col("text")).alias("text"),
    ).select("doc_id", "text", T.token_count(F.col("text")).alias("n_tok"))
    if eval_docs is None:
        return red
    if eval_docs.isStreaming:
        raise ValueError(
            "eval_docs must be a static DataFrame (benchmark corpora are "
            "static); collect it once, not as a stream"
        )
    eval_hashes = [
        r["shh"]
        for r in eval_docs.select(
            F.explode(word_shingles(F.col(text_col), decontam_ngram)).alias("sh")
        )
        .select(str_hash_col(F.col("sh")).alias("shh"))
        .distinct()
        .collect()
    ]
    if not eval_hashes:
        return red
    # scan-side membership test — the stream never joins; redaction happens
    # BEFORE shingling here exactly as in the batch funnel (redacted text is
    # what survives, so contamination is judged on it). Small eval sets ride
    # as a literal array in codegen; past 1024 hashes the set ships as ONE
    # Spark broadcast consumed by an Arrow-batched membership test (the
    # same two-path discipline as the Bloom prefilter's bitmap).
    doc_hashes = F.transform(
        word_shingles(F.col("text"), decontam_ngram), str_hash_col
    )
    if len(eval_hashes) <= 1024:
        contaminated = F.arrays_overlap(
            doc_hashes, F.array(*[F.lit(int(h)) for h in eval_hashes])
        )
        return red.filter(~F.coalesce(contaminated, F.lit(False)))
    # mapInPandas, not a pandas_udf-in-filter: the micro-batch planner
    # cannot evaluate a Python UDF predicate against the file-stream
    # source, while a MapInPandas stage is fully stream-safe (the same
    # vehicle the multimodal streaming paths use). Shingle hashes are
    # still computed by the SHARED Spark expression — only the set
    # membership runs in Python.
    bc = docs.sparkSession.sparkContext.broadcast(
        frozenset(int(h) for h in eval_hashes)
    )
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in red.schema.fields
    )
    cols = [f.name for f in red.schema.fields]

    def gate(batches):
        ev = bc.value
        for pdf in batches:
            mask = [
                not any(int(h) in ev for h in (row if row is not None else []))
                for row in pdf["_hs"]
            ]
            yield pdf.loc[mask, cols]

    return red.withColumn("_hs", doc_hashes).mapInPandas(gate, schema=out_schema)
