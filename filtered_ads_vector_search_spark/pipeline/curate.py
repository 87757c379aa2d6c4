"""End-to-end corpus curation job: the engine's operators composed into the
standard modern pretraining-data recipe, runnable as one call that writes
artifacts and returns per-stage metrics.

Stage order (each one scale-shaped, see the operators' own docstrings):
  1. quality gate      — min tokens + composite quality score + Gopher rules
  2. PII redaction     — regex scrub, text rewritten in place
  3. exact dedup       — md5 groupBy, keep lowest doc_id
  4. near-dup removal  — MinHash-LSH pairs -> connected components -> keep
                         the canonical (minimum) doc per cluster
  5. decontamination   — n-gram collision vs a held-out eval slice
  6. sequence packing  — token-budget concat-and-split assignments

Outputs under ``out_dir``:
  * documents.parquet  — surviving (doc_id, text, n_tok) rows
  * packing.parquet    — (doc_id, shard/seq assignment) from pack_sequences
  * metrics.json       — per-stage row counts (the curation funnel)

Everything is deterministic (portable hashing, no rand()), so reruns write
byte-stable metrics and the same surviving doc_id set.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..materialize import materialize, release
from ..operators import dedup as DD
from ..operators import quality as QL
from ..operators.chunking import pack_sequences

__all__ = ["curate_corpus"]


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    min_tokens: int = 8,
    min_quality: float = 0.3,
    dedup_threshold: float = 0.3,
    pack_budget: int = 512,
    eval_docs: DataFrame | None = None,
    decontam_ngram: int = 5,
    dsir_keep: int | None = None,
    dsir_target_lang: str = "en",
    stage_seconds: dict | None = None,
    gopher: bool = True,
) -> dict:
    """Run the full curation funnel over ``docs`` (doc_id, text, ...).

    ``eval_docs`` (optional) is the held-out benchmark corpus to
    decontaminate against. ``dsir_keep`` (optional; requires a ``lang``
    column on ``docs``) adds a final DSIR importance-resampling selection
    stage keeping that many documents. Returns the metrics dict it also
    writes to ``out_dir/metrics.json``.

    ``stage_seconds`` (optional): a caller-supplied dict that receives the
    wall seconds of each funnel stage (keyed like the metrics rows, plus
    ``write_artifacts``). Kept OUT of metrics.json so reruns stay
    byte-stable — timings are the bench harness's concern (the reference
    analog: ``all_runs_summary-2.csv`` ``run_time_minutes``).

    ``gopher=False`` skips the Gopher natural-language rule battery (word
    count / stopword / repetition thresholds) while keeping the scalar
    min-token + quality gate — for corpora the published rules are not
    calibrated for (code, synthetic benchmarks, non-English without a
    translated stopword list).
    """
    import time as _time

    metrics: dict[str, int] = {}
    _t = {"mark": _time.time()}

    def _lap(key: str) -> None:
        now = _time.time()
        if stage_seconds is not None:
            stage_seconds[key] = round(now - _t["mark"], 3)
        _t["mark"] = now
    base = docs.select(
        "doc_id",
        "text",
        T.token_count(F.col("text")).alias("n_tok"),
        T.quality_score(F.col("text")).alias("q"),
    )
    metrics["input_docs"] = base.count()
    _lap("input_docs")

    # 1. quality gate: cheap scalar thresholds + the Gopher rule battery
    gated = base.filter(
        (F.col("n_tok") >= min_tokens) & (F.col("q") >= min_quality)
    )
    if gopher:
        gopher_keep = QL.gopher_rules(gated.select("doc_id", "text")).filter(
            F.col("keep")
        ).select("doc_id")
        gated = gated.join(gopher_keep, "doc_id")
    metrics["after_quality_gate"] = gated.count()
    _lap("after_quality_gate")

    # 2. PII redaction (rewrites text; length/token stats recomputed).
    # Materialized: every later stage count + both writes would otherwise
    # replay the gate + Gopher + regex chain from the scan.
    red = materialize(
        gated.select(
            "doc_id",
            T.pii_redact(F.col("text")).alias("text"),
        ).select("doc_id", "text", T.token_count(F.col("text")).alias("n_tok"))
    )
    _lap("pii_redaction")

    # 3. exact dedup: keep the lowest doc_id per identical text
    canon = red.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    exact = materialize(red.join(canon.select("doc_id"), "doc_id"))
    metrics["after_exact_dedup"] = exact.count()
    _lap("after_exact_dedup")

    # 4. near-dup: banded MinHash pairs -> components -> keep canonical
    pairs = DD.minhash_pairs(exact, threshold=dedup_threshold)
    comp = DD.duplicate_components(pairs)
    dropped = comp.filter(F.col("doc_id") != F.col("component_id")).select(
        "doc_id"
    )
    neardup = exact.join(dropped, "doc_id", "left_anti")
    metrics["after_near_dedup"] = neardup.count()
    _lap("after_near_dedup")

    # 5. decontamination against the eval slice (optional)
    if eval_docs is not None:
        survivors = DD.decontaminate(neardup, eval_docs, n=decontam_ngram)
    else:
        survivors = neardup
    metrics["after_decontaminate"] = survivors.count()
    _lap("after_decontaminate")

    # 5b. DSIR importance-resampling selection toward the target slice
    # (optional; seeded Gumbel-top-k, deterministic)
    if dsir_keep is not None:
        from ..operators.lmscore import dsir_resample

        with_lang = survivors.join(docs.select("doc_id", "lang"), "doc_id")
        keep_ids = dsir_resample(
            with_lang, n_keep=dsir_keep, target_lang=dsir_target_lang
        ).select("doc_id")
        survivors = survivors.join(keep_ids, "doc_id")
        metrics["after_dsir_select"] = survivors.count()
        _lap("after_dsir_select")

    # materialized on its own stage key so packed_rows (and the writes)
    # time only their own work
    kept = materialize(survivors)
    _lap("persist_survivors")

    # 6. token-budget packing of the survivors
    packing = pack_sequences(
        kept.select("doc_id", "n_tok"), "n_tok", budget=pack_budget
    )
    metrics["packed_rows"] = packing.count()
    _lap("packed_rows")

    kept.select("doc_id", "text", "n_tok").write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    packing.write.mode("overwrite").parquet(f"{out_dir}/packing.parquet")
    # metrics go through the Hadoop FS (not local open()) so hdfs://, s3a://,
    # file:// out_dirs all work — same discipline as layout compaction
    _write_text(
        spark, f"{out_dir}/metrics.json", json.dumps(metrics, indent=1, sort_keys=True)
    )
    _lap("write_artifacts")
    # everything the funnel materialized, the operators' own included:
    # pairs reads minhash_pairs' signature table, survivors the component
    # labels and decontaminate's eval shingle set
    release(red, exact, pairs, survivors, kept)
    return metrics


def _write_text(spark: SparkSession, path: str, content: str) -> None:
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
