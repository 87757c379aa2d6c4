"""Embedding UDF boundary (SURVEY.md §2 J).

The reference's only true external UDF is embedding inference over Triton gRPC
against an NVIDIA NIM container (reference: infer_with_grpc
download_dataset/utils.py:17-82 — async batched with ordered reassembly;
model set in exec_embed.py:89). That is inherently a black-box per-batch
callout, so the Spark mapping is an Arrow-batched ``mapInPandas`` with the
identical logical signature ``embed(text) -> array<float>[EMBED_DIM]``.

This engine ships a deterministic mock embedder (md5-seeded Gaussian,
L2-normalized): same batching, same schema, same partitioning behavior as a
real endpoint call — swap ``_embed_batch`` for a gRPC/HTTP call to productionize.
Batches are Arrow-sized (spark.sql.execution.arrow.maxRecordsPerBatch), the
analog of the reference's batch_size=1000 embed batches (exec_embed.py:92).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMBED_DIM = 64  # reference embedding dim (README_reviews.md:84, tests.py:14)


def _embed_one(text: str, dim: int) -> np.ndarray:
    seed = int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:4], "little")
    v = np.random.RandomState(seed).standard_normal(dim).astype(np.float32)
    n = float(np.linalg.norm(v))
    return v / n if n > 0 else v


def _embed_batch(texts: pd.Series, dim: int) -> list:
    return [_embed_one(t if t is not None else "", dim) for t in texts]


def mock_embed(
    df: DataFrame, text_col: str = "text", out_col: str = "embedding", dim: int = EMBED_DIM
) -> DataFrame:
    """Append ``out_col array<float>[dim]`` — deterministic mock of the
    reference's NIM embedding call, at the same UDF boundary."""
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{fields}, {out_col} array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = _embed_batch(pdf[text_col], dim)
            yield pdf

    return df.mapInPandas(run, schema=schema)
