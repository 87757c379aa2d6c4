"""Product-quantization tier (operators/pq.py): encode/ADC semantics,
physical-form equivalence, and trained-codebook recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.operators import pq as PQ
from filtered_ads_vector_search_spark.operators import topk as TK

from conftest import SF_SMOKE


def _split(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    return TK.split_queries(emb)


def test_fixed_codebooks_shape_and_determinism():
    a = PQ.fixed_codebooks(dim=64, m=4, n_codes=16, seed=42)
    b = PQ.fixed_codebooks(dim=64, m=4, n_codes=16, seed=42)
    assert a == b
    assert len(a) == 4 and len(a[0]) == 16 and len(a[0][0]) == 16
    assert all(-1.0 <= x <= 1.0 for cb in a for code in cb for x in code)
    with pytest.raises(ValueError):
        PQ.fixed_codebooks(dim=60, m=8)


def test_adc_equals_exact_over_decoded(spark):
    """The ADC LUT path must equal sqeuclidean(q, decode(codes)) exactly —
    the identity that makes the oracle formulation valid. Compare the full
    top-k output of both physical forms (same tie-break)."""
    q, c = _split(spark)
    books = PQ.fixed_codebooks(dim=64, m=4, n_codes=16)
    coded = c.select(
        F.col("vec_id").alias("neighbor_id"),
        PQ.pq_encode_expr("embedding", books).alias("codes"),
    )
    adc = PQ.pq_adc_search(q, coded, books, k=5)

    decoded = coded.select(
        "neighbor_id", PQ.pq_decode_expr("codes", books).alias("embedding")
    ).withColumnRenamed("neighbor_id", "vec_id")
    exact = TK.knn_window(q, decoded, k=5, metric="sqeuclidean")

    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], round(r["dist"], 9)) for r in adc.collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], round(r["dist"], 9)) for r in exact.collect()}
    assert a == b


def test_encode_argmin_is_nearest(spark):
    """Every assigned code must be the true argmin over its subspace
    (numpy recomputation, first-match tie-break)."""
    _, c = _split(spark)
    books = PQ.fixed_codebooks(dim=64, m=4, n_codes=16)
    rows = (
        c.select("vec_id", "embedding", PQ.pq_encode_expr("embedding", books).alias("codes"))
        .limit(50)
        .collect()
    )
    cb = np.asarray(books)  # (m, n_codes, sd)
    m, _, sd = cb.shape
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        for j in range(m):
            d = ((v[j * sd : (j + 1) * sd][None, :] - cb[j]) ** 2).sum(axis=1)
            assert r["codes"][j] == int(d.argmin()), (r["vec_id"], j)


def test_trained_pq_beats_fixed_on_clustered_data(spark):
    """What training actually guarantees (PQ cannot rank WITHIN a tight
    cluster — all members share codes and ADC ties — so a top-k recall floor
    would assert a property PQ doesn't have): (1) Lloyd-trained codebooks
    reconstruct the corpus with far lower MSE than hash-fixed ones;
    (2) quantization preserves cluster identity — each decoded vector's
    nearest true center is its own cluster's."""
    n, dim, n_clusters = 600, 16, 8
    rng = np.random.RandomState(0)
    centers = rng.standard_normal((n_clusters, dim)) * 2.0
    labels = rng.randint(0, n_clusters, n)
    X = centers[labels] + rng.standard_normal((n, dim)) * 0.05
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)], "vec_id long, embedding array<float>"
    )

    trained = PQ.pq_train(df, m=4, n_codes=8, sample_n=600, iters=8, seed=1)
    assert len(trained) == 4 and all(len(code) == 4 for cb in trained for code in cb)
    fixed = PQ.fixed_codebooks(dim=dim, m=4, n_codes=8)

    # encode then decode in one pass
    def recon(books):
        rows = (
            df.withColumn("codes", PQ.pq_encode_expr("embedding", books))
            .select("vec_id", PQ.pq_decode_expr("codes", books).alias("dec"))
            .collect()
        )
        return np.asarray([r["dec"] for r in sorted(rows, key=lambda r: r["vec_id"])])

    rt = recon(trained)
    rf = recon(fixed)
    mse_t = float(((rt - X) ** 2).mean())
    mse_f = float(((rf - X) ** 2).mean())
    assert mse_t < mse_f / 10, (mse_t, mse_f)

    # decoded vectors still identify their cluster
    d2 = ((rt[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    assert (d2.argmin(axis=1) == labels).mean() >= 0.95


def test_codebook_validation():
    books = PQ.fixed_codebooks(dim=64, m=4, n_codes=16)
    books[1] = books[1][:-1]  # ragged
    with pytest.raises(ValueError, match="ragged"):
        PQ.pq_encode_expr("embedding", books)
    with pytest.raises(ValueError):
        PQ._validate([], dim=64)


def test_pq_encode_fused_map_arrow_matches_expr_bit_exact(spark):
    """The fused mapInArrow encode (one pass: flat-buffer decode,
    partition_id-indexed residual against the broadcast centroid matrix,
    flat codes emission) must produce EXACTLY the SQL-expression form's
    codes — absolute and residual — and pass every other column through
    untouched. This is the bit-identity contract (ascending fold,
    first-min argmin == array_position tie-break) the IVFPQ oracles rely
    on; it is the one Arrow PQ encode and the IVFPQ build path runs on it."""
    import numpy as np

    q, c = _split(spark)
    books = PQ.fixed_codebooks(dim=64, m=4, n_codes=16)

    # absolute codes + pass-through columns (vec dropped on request)
    via_expr = {
        r["vec_id"]: r["codes"]
        for r in c.select(
            "vec_id", PQ.pq_encode_expr("embedding", books).alias("codes")
        ).collect()
    }
    fused = PQ.pq_encode_with_codes_arrow(c, books, "embedding", drop_vec=True)
    assert "embedding" not in fused.columns
    assert {r["vec_id"]: r["codes"] for r in fused.collect()} == via_expr

    # residual codes: centers indexed by a planted partition_id must equal
    # the joined-centroid-column expression form
    cents = c.orderBy("vec_id").limit(3).collect()
    centers = np.array([r["embedding"] for r in cents], dtype=np.float64)
    tagged = c.withColumn("partition_id", (F.col("vec_id") % 3).cast("int"))
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(centers)],
        "partition_id int, centroid array<float>",
    )
    via_expr_r = {
        r["vec_id"]: r["codes"]
        for r in tagged.join(F.broadcast(cent_df), "partition_id")
        .select(
            "vec_id",
            PQ.pq_encode_residual_expr("embedding", "centroid", books).alias("codes"),
        )
        .collect()
    }
    fused_r = PQ.pq_encode_with_codes_arrow(
        tagged, books, "embedding", centers=centers
    )
    assert {r["vec_id"]: r["codes"] for r in fused_r.collect()} == via_expr_r


# --- OPQ (round 9): rotation-trained PQ — Ge et al. CVPR 2013 / FAISS's
# OPQ pre-transform ---


def test_opq_rotation_is_orthogonal_and_deterministic(spark):
    _, c = _split(spark)
    R1, books1 = PQ.opq_train(c, m=4, n_codes=8, opq_iters=4, seed=42)
    R2, books2 = PQ.opq_train(c, m=4, n_codes=8, opq_iters=4, seed=42)
    assert np.array_equal(R1, R2)
    assert books1 == books2
    d = R1.shape[0]
    assert np.allclose(R1 @ R1.T, np.eye(d), atol=1e-9)
    assert np.allclose(R1.T @ R1, np.eye(d), atol=1e-9)


def test_opq_improves_sample_reconstruction_mse(spark):
    """The alternation's whole point: rotated-space reconstruction MSE must
    not exceed plain PQ's on the same sample/seed/iters."""
    _, c = _split(spark)
    books_pq = PQ.pq_train(c, m=8, n_codes=16, seed=42)
    R, books_opq = PQ.opq_train(c, m=8, n_codes=16, seed=42)
    X = PQ._train_sample(c, "embedding", 100_000)

    def mse(Y, books):
        CB = np.asarray(books)
        m, nc, sd = CB.shape
        tot = 0.0
        for j in range(m):
            S = Y[:, j * sd : (j + 1) * sd]
            G = S @ CB[j].T
            G *= -2.0
            G += (CB[j] * CB[j]).sum(axis=1)[None, :]
            tot += ((S - CB[j][np.argmin(G, axis=1)]) ** 2).sum()
        return tot / len(Y)

    assert mse(X @ R, books_opq) <= mse(X, books_pq)


def test_opq_encode_rotation_hook_matches_pre_rotated_column(spark):
    """pq_encode_with_codes_arrow(rotation=R) must emit the same codes as
    encoding an explicitly rotated column (rotate_vecs) — same doubles,
    same argmin."""
    _, c = _split(spark)
    R, books = PQ.opq_train(c, m=4, n_codes=8, opq_iters=3, seed=42)
    src = c.select("vec_id", "embedding")
    hook = {
        r["vec_id"]: list(r["codes"])
        for r in PQ.pq_encode_with_codes_arrow(
            src, books, "embedding", rotation=R
        ).collect()
    }
    pre = PQ.rotate_vecs(src, R, "embedding", out_col="emb_rot")
    explicit = {
        r["vec_id"]: list(r["codes"])
        for r in PQ.pq_encode_with_codes_arrow(pre, books, "emb_rot").collect()
    }
    assert hook == explicit


def test_rotate_vecs_identity_and_values(spark):
    _, c = _split(spark)
    src = c.select("vec_id", "embedding").limit(50)
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in src.collect()}
    d = len(next(iter(rows.values())))
    eye = {
        r["vec_id"]: np.array(r["embedding"])
        for r in PQ.rotate_vecs(src, np.eye(d), "embedding").collect()
    }
    for k, v in rows.items():
        assert np.allclose(eye[k], v)
    rng = np.random.RandomState(0)
    Q, _ = np.linalg.qr(rng.standard_normal((d, d)))
    got = {
        r["vec_id"]: np.array(r["rot"])
        for r in PQ.rotate_vecs(src, Q, "embedding", out_col="rot").collect()
    }
    for k, v in rows.items():
        assert np.allclose(got[k], v @ Q, atol=1e-12)


def test_opq_adc_recall_floor_and_rotation_invariance(spark):
    """End-to-end OPQ search clears the registry floor, and rotating BOTH
    sides with the same orthogonal R preserves ADC ranking semantics (the
    invariance that makes OPQ a drop-in for the plain ADC path)."""
    q, c = _split(spark)
    R, books = PQ.opq_train(c, m=8, n_codes=32, seed=42)
    coded = PQ.pq_encode_with_codes_arrow(
        c.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        books, "embedding", drop_vec=True, rotation=R,
    )
    q_rot = PQ.rotate_vecs(q, R, "q_vec")
    found = PQ.pq_adc_search(q_rot, coded, books, k=10)
    truth = TK.knn_window(q, c, k=10)
    hits = (
        found.join(truth.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id").count().collect()
    )
    per_q = {r["query_id"]: r["count"] / 10 for r in hits}
    n_q = q.count()
    assert len(per_q) == n_q  # every query found at least one true neighbor
    assert all(v >= 0.1 for v in per_q.values()), per_q


def test_opq_train_tiny_sample_shrinks_codebook(spark):
    """A corpus smaller than n_codes trains a len(sample)-row codebook (the
    same graceful shrink as pq_train) instead of crashing on the
    preallocated (m, n_codes, sd) block (round-10 ADVICE fix)."""
    _, c = _split(spark)
    tiny = c.limit(5)
    R, books = PQ.opq_train(tiny, m=4, n_codes=8, opq_iters=2, seed=42)
    d = R.shape[0]
    assert np.allclose(R @ R.T, np.eye(d), atol=1e-9)
    assert len(books) == 4 and all(len(cb) == 5 for cb in books)
    # pq_train on the same tiny corpus shrinks identically
    books_pq = PQ.pq_train(tiny, m=4, n_codes=8, seed=42)
    assert all(len(cb) == 5 for cb in books_pq)
    with pytest.raises(ValueError, match="empty training sample"):
        PQ.opq_train(c.limit(0), m=4, n_codes=8, seed=42)
