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
  * metrics.json       — per-stage row counts (the curation funnel), each
                         observed on the action that computes the stage

Everything is deterministic (portable hashing, no rand()), so reruns write
byte-stable metrics and the same surviving doc_id set.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..materialize import materialize, release
from ..operators import dedup as DD
from ..operators import quality as QL
from ..operators.chunking import pack_sequences
from ..operators.index_layout import write_text

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

    Each stage runs as one materialization (or write), and its row count is
    an ``observe()`` on that same action, never a second count:
    ``input_docs`` and ``after_quality_gate`` ride the PII-redaction
    materialization, ``after_exact_dedup`` its own, ``after_near_dedup``,
    ``after_decontaminate`` and ``after_dsir_select`` the one
    materialization of the survivors (the DSIR branch first materializes
    its pool, which carries the two before it), and ``packed_rows`` the
    ``packing.parquet`` write.

    ``stage_seconds`` (optional): a caller-supplied dict that receives the
    wall seconds of each funnel stage (keyed like the metrics rows, plus
    ``pii_redaction``, ``persist_survivors`` and ``write_artifacts``). A
    count key whose value rides a later action is lapped just before that
    action, so its jobs land in the stage that runs it (``pii_redaction``,
    ``after_dsir_select``, ``persist_survivors`` or ``write_artifacts``).
    Kept OUT of metrics.json so reruns stay
    byte-stable — timings are the bench harness's concern (the reference
    analog: ``all_runs_summary-2.csv`` ``run_time_minutes``).

    ``gopher=False`` skips the Gopher natural-language rule battery (word
    count / stopword / repetition thresholds) while keeping the scalar
    min-token + quality gate — for corpora the published rules are not
    calibrated for (code, synthetic benchmarks, non-English without a
    translated stopword list).
    """
    import time as _time

    counts: dict[str, Observation] = {}
    _t = {"mark": _time.time()}

    def _lap(key: str) -> None:
        now = _time.time()
        if stage_seconds is not None:
            stage_seconds[key] = round(now - _t["mark"], 3)
        _t["mark"] = now

    def _observe(df: DataFrame, **keyed: Column) -> DataFrame:
        # the funnel counts ride the action that computes the stage anyway;
        # each observed node must appear once in that action's plan (a node
        # read twice may run once, under exchange reuse, or not at all)
        obs = Observation()
        counts.update(dict.fromkeys(keyed, obs))
        return df.observe(obs, *[c.alias(k) for k, c in keyed.items()])

    n_rows = F.count(F.lit(1))
    base = docs.select(
        "doc_id",
        "text",
        T.token_count(F.col("text")).alias("n_tok"),
        T.quality_score(F.col("text")).alias("q"),
    )

    # 1. quality gate: cheap scalar thresholds + the Gopher rule battery.
    # The rules run on the scalar survivors and come back by a left join,
    # so the observed relation still holds every input row once.
    keep = (F.col("n_tok") >= min_tokens) & (F.col("q") >= min_quality)
    if gopher:
        rules = QL.gopher_rules(base.filter(keep).select("doc_id", "text"))
        base = base.join(
            rules.select("doc_id", F.col("keep").alias("_gopher")), "doc_id", "left"
        )
        keep = keep & F.coalesce(F.col("_gopher"), F.lit(False))
    gated = _observe(
        base, input_docs=n_rows, after_quality_gate=F.count(F.when(keep, 1))
    ).filter(keep)
    _lap("input_docs")
    _lap("after_quality_gate")

    # 2. PII redaction (rewrites text; length/token stats recomputed).
    # Materialized: every later stage and both writes would otherwise
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
    exact = materialize(
        _observe(red.join(canon.select("doc_id"), "doc_id"), after_exact_dedup=n_rows)
    )
    _lap("after_exact_dedup")

    # 4. near-dup: banded MinHash pairs -> components -> keep canonical
    pairs = DD.minhash_pairs(exact, threshold=dedup_threshold)
    comp = DD.duplicate_components(pairs)
    dropped = comp.filter(F.col("doc_id") != F.col("component_id")).select(
        "doc_id"
    )
    neardup = _observe(
        exact.join(dropped, "doc_id", "left_anti"), after_near_dedup=n_rows
    )
    _lap("after_near_dedup")

    # 5. decontamination against the eval slice (optional). The flags are
    # a per-document property, so they come from `exact` rather than from
    # `neardup`, which the plan then reads once.
    survivors = neardup
    if eval_docs is not None:
        flagged = DD.contamination_flags(exact, eval_docs, n=decontam_ngram)
        survivors = survivors.join(flagged.select("doc_id"), "doc_id", "left_anti")
    survivors = _observe(survivors, after_decontaminate=n_rows)
    _lap("after_decontaminate")

    # 5b. DSIR importance-resampling selection toward the target slice
    # (optional; seeded Gumbel-top-k, deterministic). The selection reads
    # its pool more than once, so the pool is materialized first.
    if dsir_keep is not None:
        from ..operators.lmscore import dsir_resample

        pool = materialize(survivors)
        with_lang = pool.join(docs.select("doc_id", "lang"), "doc_id")
        keep_ids = dsir_resample(
            with_lang, n_keep=dsir_keep, target_lang=dsir_target_lang
        ).select("doc_id")
        survivors = _observe(pool.join(keep_ids, "doc_id"), after_dsir_select=n_rows)
        _lap("after_dsir_select")

    # the one materialization of the survivors: every count observed since
    # exact dedup (or since the DSIR pool) lands here
    kept = materialize(survivors)
    _lap("persist_survivors")

    # 6. token-budget packing of the survivors; its row count rides the
    # packing write
    packing = _observe(
        pack_sequences(kept.select("doc_id", "n_tok"), "n_tok", budget=pack_budget),
        packed_rows=n_rows,
    )
    _lap("packed_rows")

    kept.select("doc_id", "text", "n_tok").write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    packing.write.mode("overwrite").parquet(f"{out_dir}/packing.parquet")
    metrics = {k: int(obs.get[k]) for k, obs in counts.items()}
    # metrics go through the Hadoop FS (not local open()) so hdfs://, s3a://,
    # file:// out_dirs all work — same discipline as layout compaction
    write_text(
        spark, f"{out_dir}/metrics.json", json.dumps(metrics, indent=1, sort_keys=True)
    )
    _lap("write_artifacts")
    # everything the funnel materialized, the operators' own included:
    # pairs reads minhash_pairs' signature table, comp the component labels,
    # survivors the DSIR pool
    release(red, exact, pairs, comp, survivors, kept)
    return metrics
