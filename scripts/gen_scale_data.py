"""Generate the local real-scale bench dataset: N x DIM clustered vectors
(default 1M x 64) + M synthetic documents (default 200k, with planted near
duplicates), written as Parquet under scale_data/ (gitignored).

Everything is generated DISTRIBUTED (mapInPandas over spark.range) and
deterministically from row ids — no driver-side materialization, no RNG
state: value = f(vec_id, j) via integer hashing, so any row can be
recomputed independently of partitioning. Vectors get genuine cluster
structure (256 hash-derived centers + uniform noise) so IVF probe pruning
has real signal to exploit, mirroring real embedding corpora.

Usage: python scripts/gen_scale_data.py [n_vectors] [n_docs] [out_dir]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from filtered_ads_vector_search_spark.session import get_spark

DIM = 64
N_CLUSTERS = 256
VOCAB = 2000
DOC_WORDS = 30


def gen_vectors(
    spark, n: int, out: str, n_clusters: int = N_CLUSTERS, dim: int = DIM
) -> None:
    def gen(batches):
        j = np.arange(dim, dtype=np.uint64)
        for pdf in batches:
            ids = pdf["id"].to_numpy().astype(np.uint64)
            c = ids % n_clusters
            center = (
                ((c[:, None] * np.uint64(2654435761) + j[None, :] * np.uint64(97)) % 1000)
                .astype(np.float64)
                / 500.0
                - 1.0
            ) * 2.0
            noise = (
                ((ids[:, None] * np.uint64(1103515245) + j[None, :] * np.uint64(12345))
                 % np.uint64(2**31)).astype(np.float64)
                / float(2**30)
                - 1.0
            ) * 0.3
            X = (center + noise).astype(np.float32)
            yield pd.DataFrame({"vec_id": ids.astype(np.int64), "embedding": list(X)})

    (
        spark.range(0, n, numPartitions=64)
        .mapInPandas(gen, schema="vec_id bigint, embedding array<float>")
        .write.mode("overwrite")
        .parquet(f"{out}/vectors.parquet")
    )


def gen_documents(spark, n: int, out: str) -> None:
    """Docs of DOC_WORDS hash-picked vocab words; every 10th doc is a near
    duplicate of its predecessor (one word changed) and every 50th an exact
    duplicate — planted positives for the dedup tiers."""

    def words_for(seed: int) -> list[str]:
        # splitmix-style avalanche per (seed, k): a LINEAR picker
        # (seed*31 + k*17) aliases — seeds at distance 17*31^-1 mod VOCAB
        # share ~29/30 words, planting ~600 unintended near-dups per doc.
        out = []
        for k in range(DOC_WORDS):
            z = (seed * 0x9E3779B97F4A7C15 + k * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            z = ((z ^ (z >> 30)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            out.append(f"w{(z ^ (z >> 31)) % VOCAB}")
        return out

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            texts = []
            for i in ids:
                base = int(i)
                if base % 50 == 49:  # exact duplicate of predecessor
                    words = words_for(base - 1)
                elif base % 10 == 9:  # near duplicate: one word changed
                    words = words_for(base - 1)
                    words[7] = f"x{base}"
                else:
                    words = words_for(base)
                texts.append(" ".join(words))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    (
        spark.range(0, n, numPartitions=32)
        .mapInPandas(gen, schema="doc_id bigint, text string")
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )


def main() -> None:
    n_vec = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_doc = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    out = sys.argv[3] if len(sys.argv) > 3 else os.path.join(ROOT, "scale_data")
    n_doc_large = int(sys.argv[4]) if len(sys.argv) > 4 else 1_000_000
    spark = get_spark(app_name="favs-gen-scale")
    spark.sparkContext.setLogLevel("ERROR")
    gen_vectors(spark, n_vec, out)
    gen_documents(spark, n_doc, out)
    # the 1M-document corpus for the curate_funnel_1m row (same generator,
    # same planted dup cadence, separate directory)
    gen_documents(spark, n_doc_large, f"{out}/docs1m")
    nv = spark.read.parquet(f"{out}/vectors.parquet").count()
    nd = spark.read.parquet(f"{out}/documents.parquet").count()
    nd1m = spark.read.parquet(f"{out}/docs1m/documents.parquet").count()
    print(f"wrote {nv} vectors, {nd} + {nd1m} documents under {out}")
    assert nv == n_vec and nd == n_doc and nd1m == n_doc_large


if __name__ == "__main__":
    main()
