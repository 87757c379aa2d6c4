"""Product quantization (PQ) tier with asymmetric-distance (ADC) search.

The reference's quantization family (index_data.ipynb cell 0) covers fp16 /
scalar-int8 / binary; PQ is the fourth classic member (the one FAISS/cuVS
pair with IVF for billion-scale corpora), added here as beyond-reference
breadth with the same oracle discipline as the other tiers.

Semantics: the 64-dim vector is split into ``m`` contiguous subspaces; each
subspace is replaced by the index of its nearest codebook centroid
(sqeuclidean, first-match tie-break). ADC distance between a full-precision
query and a coded corpus vector is the sum over subspaces of the exact
distance from the query's subvector to the selected centroid — equal to
sqeuclidean(query, reconstructed_vector), but computed with a per-query
lookup table so the corpus side never materializes floats.

Scale story (the reason PQ exists): the corpus column shrinks from
dim × 4 bytes to ``m`` small ints per vector (64× at m=8/dim=64 before
Parquet encoding), so a 100 TB fp32 corpus scans as ~1.5 TB of codes. The
query side precomputes LUT[j][c] = d(q_j, codebook[j][c]) — m × n_codes
doubles per query — broadcast with the (small) query relation; the corpus
side is one scan whose per-row cost is ``m`` array lookups inside
whole-stage codegen. No Python, no shuffle of corpus floats, and the
encode/search expressions are built as ONE parsed SQL string each (the
literal codebook would cost a py4j round-trip per F.lit otherwise — same
trick as lsh._all_dots_sql).

Codebooks come in two flavors:
* ``fixed_codebooks`` — deterministic integer-hash centroids; arithmetic on
  both engines, so the full encode+search path has a DuckDB oracle twin
  (same pattern as ann.IVFIndex.build_fixed).
* ``pq_train`` — Lloyd's k-means per subspace over a bounded, deterministic
  hash-sample of the corpus (same bounded-sample discipline as
  IVFIndex.build's KMeans tier); the trained tier is pytest-verified
  (recall floor + exact-equivalence of the two physical forms).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from .topk import topk_agg

__all__ = [
    "fixed_codebooks",
    "pq_train",
    "pq_fit",
    "opq_train",
    "opq_fit",
    "rotate_vecs",
    "pq_encode_expr",
    "pq_encode_residual_expr",
    "pq_encode_with_codes_arrow",
    "pq_encode_sql",
    "pq_adc_search",
    "pq_adc_dist_sql",
    "pq_decode_expr",
]

Codebooks = list[list[list[float]]]  # [m][n_codes][sub_dim]


def _validate(codebooks: Codebooks, dim: int | None = None) -> tuple[int, int, int]:
    m = len(codebooks)
    if m == 0:
        raise ValueError("codebooks must have at least one subspace")
    n_codes = len(codebooks[0])
    sub_dim = len(codebooks[0][0])
    for j, cb in enumerate(codebooks):
        if len(cb) != n_codes or any(len(c) != sub_dim for c in cb):
            raise ValueError(f"ragged codebook at subspace {j}")
    if dim is not None and m * sub_dim != dim:
        raise ValueError(f"codebooks cover {m * sub_dim} dims, embedding has {dim}")
    return m, n_codes, sub_dim


def fixed_codebooks(
    dim: int = 64, m: int = 4, n_codes: int = 16, seed: int = 42
) -> Codebooks:
    """Deterministic centroids from integer hashing (no RNG state): spread in
    [-1, 1] like the unit-scale embeddings. Exact decimal literals, so both
    engines parse identical doubles."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sd = dim // m
    return [
        [
            [
                ((j * 2654435761 + c * 19349663 + t * 83492791 + seed * 97) % 2001 - 1000)
                / 1000.0
                for t in range(sd)
            ]
            for c in range(n_codes)
        ]
        for j in range(m)
    ]


def _sample_hash(vec: Column) -> Column:
    """Deterministic partition-invariant sample key on a vector column:
    xxhash64 evaluated NATIVELY on the array, folded to the uniform
    [0, 2^32) range bounded_hash_take's threshold math assumes. The
    crc32(cast(v as string)) key this replaced (rounds 4-9) materialized a
    ~2 bytes/element string per row on every training scan — at 1M x 768d
    that alone was tens of seconds per pass (SCALE_BENCH
    extras.dim768.build_breakdown). Trained artifacts drift under the new
    sample membership, within the documented trained-tier discipline
    (BENCH_DRIFT round-7 addendum: contracts pin floors, not bits)."""
    return F.pmod(F.xxhash64(vec), F.lit(2**32))


def _matrix_from_arrow(tbl, col: str) -> np.ndarray:
    """(n, dim) float64 matrix from a pyarrow Table's list<float> column —
    flatten() honors list offsets, so sliced/concatenated tables convert
    exactly; the f32->f64 upcast is value-exact."""
    if tbl.num_rows == 0:
        return np.asarray([], dtype=np.float64)
    flat = tbl.column(col).combine_chunks().flatten()
    return (
        flat.to_numpy(zero_copy_only=False)
        .astype(np.float64)
        .reshape(tbl.num_rows, -1)
    )


def _train_sample(corpus: DataFrame, vec_col: str, sample_n: int) -> np.ndarray:
    """Bounded deterministic training sample as an (n, dim) float64 matrix.

    Hash-ordered (not .limit on an arbitrary scan) so training is
    partition-invariant; at 100 TB the sample is still ``sample_n`` rows.
    Driver memory: sample_n × dim × 8 bytes (100k × 64 ≈ 51 MB); the
    bounded_hash_take pre-filter also caps the take's per-task driver
    traffic (a bare orderBy+limit collect ships tasks × sample_n rows).
    Value tie-break after the hash (same discipline as IVFIndex.build):
    hash ties at the sample_n boundary would otherwise resolve by partition
    arrival order, making the trained artifacts partition-dependent — the
    raw array column orders deterministically, no string cast needed."""
    from .sampling import bounded_hash_take

    src = corpus.select(
        F.col(vec_col).alias("v"),
        _sample_hash(F.col(vec_col)).alias("h"),
    )
    tbl = bounded_hash_take(src, "h", ["h", F.col("v")], sample_n, as_arrow=True)
    return _matrix_from_arrow(tbl, "v")


def _train_sample_raw(
    corpus: DataFrame, vec_col: str, sample_n: int
) -> np.ndarray:
    """Bounded deterministic RAW-vector training sample as an (n, dim)
    float64 matrix — the shared hash-ordered draw (raw-vector md5 key)
    every trained tier samples with. Collected ONCE per composed build:
    IVFIndex.build (coarse k-means) and the residual codebook training
    draw the same membership, so composing builders collect here and pass
    the matrix down instead of running two identical sampling scans."""
    from .sampling import bounded_hash_take

    src = corpus.select(
        F.col(vec_col).alias("v"),
        _sample_hash(F.col(vec_col)).alias("h"),
    )
    tbl = bounded_hash_take(src, "h", ["h", F.col("v")], sample_n, as_arrow=True)
    return _matrix_from_arrow(tbl, "v")


def _residuals_for_sample(X: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Assign the sample to its nearest centroid and subtract, driver-side
    — the same `cn - 2 X.C` f64 expansion as _with_partition_id's kernel."""
    if len(X) == 0:
        return X
    cn = (centers * centers).sum(axis=1)
    pid = np.argmin(cn[None, :] - 2.0 * (X @ centers.T), axis=1)
    return X - centers[pid]


def _train_sample_residual(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    sample_n: int,
) -> np.ndarray:
    """Bounded deterministic RESIDUAL training sample as an (n, dim)
    float64 matrix: sample the RAW vectors by the raw-vector hash, then
    assign AND subtract the centroids on the DRIVER.

    The round-9 form computed residuals corpus-wide first — a broadcast
    centroid join plus an interpreted dim-element zip_with per row — and
    hashed the RESIDUAL's string; at 1M x 768d that scan plus shipping the
    f64 residual arrays (614 MB, tripping bounded_hash_take's sliced
    maxResultSize retry into repeated corpus scans) measured 181 s of the
    266 s composed build. The round-10 form sampled through the ASSIGNED
    relation to read partition_id — which forced bounded_hash_take's two
    passes (count + take) through the assignment mapInArrow (mapInArrow
    blocks column pruning, so even the count ran the kernel; 62 s of the
    lazy-coarse 768-d build). Sampling the raw corpus instead, the driver
    assigns the 100k-row sample itself with the SAME `cn - 2 X.C`
    f64 expansion as _with_partition_id's kernel (one ~1 s DGEMM), and the
    coarse relation never needs materializing for training. Sample
    MEMBERSHIP is unchanged (same raw-vector hash key)."""
    rows = centroids.orderBy("centroid_id").collect()
    centers = np.asarray([r["centroid"] for r in rows], dtype=np.float64)
    X = _train_sample_raw(corpus, vec_col, sample_n)
    return _residuals_for_sample(X, centers)


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    sample_n: int = 100_000,
    iters: int = 10,
    seed: int = 42,
) -> Codebooks:
    """Lloyd's k-means per subspace on a bounded deterministic sample
    (see _train_sample for the sampling discipline)."""
    return pq_fit(_train_sample(corpus, vec_col, sample_n), m, n_codes, iters, seed)


def pq_fit(
    X: np.ndarray,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 10,
    seed: int = 42,
) -> Codebooks:
    """The driver-local fit half of :func:`pq_train`, over an already
    collected (n, dim) sample — callers that source the sample differently
    (the residual tier via `_train_sample_residual`) share the identical
    init/Lloyd discipline."""
    if len(X) == 0:
        raise ValueError("pq_train: empty training sample")
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sd = dim // m
    rng = np.random.RandomState(seed)
    # init draws stay SEQUENTIAL in subspace order (one shared rng stream —
    # reordering them would change the trained artifact); the Lloyd fits
    # below are rng-free and independent per subspace, so they run on
    # driver threads, ~m x less wall (the m=8 nc=256 fit was 18 s of the
    # 5M IVFPQ build). THREADING is bit-identical to the sequential loop;
    # the in-place `cn - 2 x.c` assignment kernel below is NOT bit-identical
    # to the materialized ||x||^2 - 2x.c + ||c||^2 form it replaced —
    # dropping the row-constant ||x||^2 term changes per-entry rounding, so
    # float-TIED argmins can flip and trained codebooks can drift at ulp
    # ties across versions (recall contracts compare floors, not artifacts;
    # see BENCH_DRIFT round-7 addendum)
    inits: list[tuple[np.ndarray, np.ndarray]] = []
    for j in range(m):
        S = np.ascontiguousarray(X[:, j * sd : (j + 1) * sd])
        cb = S[rng.choice(len(S), size=min(n_codes, len(S)), replace=False)].copy()
        inits.append((S, cb))

    def _fit(S: np.ndarray, cb: np.ndarray) -> np.ndarray:
        k = len(cb)
        for _ in range(iters):
            # assignment: ||x||^2 is row-constant, so argmin only needs
            # cn - 2 x.c, computed IN PLACE on the GEMM output (the same
            # expansion the coarse _kmeans_numpy uses) — the materialized
            # (n x k) d2 with the sn term this replaces moved ~2x the
            # memory per iteration, and the fit is bandwidth-bound;
            # per-cluster means via ONE fused-index bincount over the
            # flattened sample, replacing the per-column bincount loop
            G = S @ cb.T
            G *= -2.0
            G += (cb * cb).sum(axis=1)[None, :]
            assign = np.argmin(G, axis=1)
            counts = np.bincount(assign, minlength=k).astype(np.float64)
            flat_idx = (assign[:, None] * sd + np.arange(sd)[None, :]).ravel()
            sums = np.bincount(
                flat_idx, weights=S.ravel(), minlength=k * sd
            ).reshape(k, sd)
            nonempty = counts > 0
            cb[nonempty] = sums[nonempty] / counts[nonempty, None]
        return cb

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, os.cpu_count() or 1)) as ex:
        fitted = list(ex.map(lambda t: _fit(*t), inits))
    return [[[float(x) for x in row] for row in cb] for cb in fitted]


def opq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    sample_n: int = 100_000,
    iters: int = 10,
    opq_iters: int = 8,
    seed: int = 42,
) -> tuple[np.ndarray, Codebooks]:
    """Optimized Product Quantization: learn an orthogonal rotation R so the
    subspace split aligns with the data's principal structure, then quantize
    the ROTATED vectors (Ge, He, Ke & Sun, "Optimized Product Quantization",
    CVPR 2013 — the non-parametric alternation; the same upgrade FAISS ships
    as its OPQ pre-transform). Returns ``(R, codebooks)`` with R (dim, dim)
    orthogonal; encode with ``codes(x) = pq_encode(x @ R)``, search with the
    ADC LUT built from ``q @ R`` — R is orthogonal, so rotated-space
    distances ARE original-space distances and every downstream kernel is
    unchanged.

    Alternation per outer iter (all driver-local on the bounded sample, the
    same scale-independence argument as pq_train):
      1. Y = X @ R; fit per-subspace codebooks on Y (warm-started after the
         first iter — standard OPQ-NP runs a few Lloyd steps per outer
         round, not a full refit);
      2. Yhat = decode(encode(Y)); R <- argmin_{R orthogonal}
         ||X R - Yhat||_F = U V' from the SVD of X'Yhat (orthogonal
         Procrustes).
    After the alternation one final per-subspace Lloyd pass refits the
    codebooks under the FINAL rotation (the loop ends on the Procrustes
    update, so without the refit the returned books were fit under the
    previous iteration's Y — reference OPQ implementations end on the
    codebook step). Lloyd never increases within-subspace MSE, so the
    monotonicity contract is preserved.
    Reconstruction MSE is non-increasing across the alternation; the opq
    contract queries pin ``MSE(OPQ) <= MSE(plain PQ)`` on the same sample
    discipline rather than artifact bits (trained values are ulp-sensitive,
    like every trained tier — see BENCH_DRIFT round-7 addendum)."""
    return opq_fit(
        _train_sample(corpus, vec_col, sample_n), m, n_codes, iters,
        opq_iters, seed,
    )


def opq_fit(
    X: np.ndarray,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 10,
    opq_iters: int = 8,
    seed: int = 42,
) -> tuple[np.ndarray, Codebooks]:
    """The driver-local alternation half of :func:`opq_train`, over an
    already collected (n, dim) sample (see opq_train for semantics)."""
    if len(X) == 0:
        raise ValueError("opq_train: empty training sample")
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sd = dim // m
    rng = np.random.RandomState(seed)
    R = np.eye(dim)
    # codebook rows come from the actual sample draw: a corpus smaller than
    # n_codes trains a k=len(sample) codebook (the same graceful shrink as
    # pq_train's min(n_codes, len(S)) draw) instead of leaving garbage rows
    # in a preallocated (m, n_codes, sd) block
    k_eff = min(n_codes, len(X))
    CB: np.ndarray | None = None  # (m, k_eff, sd)

    def _lloyd(S: np.ndarray, cb: np.ndarray, steps: int) -> np.ndarray:
        k = len(cb)
        for _ in range(steps):
            G = S @ cb.T
            G *= -2.0
            G += (cb * cb).sum(axis=1)[None, :]
            assign = np.argmin(G, axis=1)
            counts = np.bincount(assign, minlength=k).astype(np.float64)
            flat_idx = (assign[:, None] * sd + np.arange(sd)[None, :]).ravel()
            sums = np.bincount(
                flat_idx, weights=S.ravel(), minlength=k * sd
            ).reshape(k, sd)
            nonempty = counts > 0
            cb[nonempty] = sums[nonempty] / counts[nonempty, None]
        return cb

    from concurrent.futures import ThreadPoolExecutor

    def _fit_and_decode(j: int, Y: np.ndarray, steps: int) -> None:
        # per-subspace Lloyd fit + encode/decode — rng-free and independent
        # across j, so the alternation's inner loops run on driver threads
        # exactly like pq_fit's fits (BIT-IDENTICAL to the sequential loop:
        # each subspace touches only its own CB[j]/Yhat slice). The init
        # draws above stay sequential (one shared rng stream).
        S = np.ascontiguousarray(Y[:, j * sd : (j + 1) * sd])
        CB[j] = _lloyd(S, CB[j], steps)
        G = S @ CB[j].T
        G *= -2.0
        G += (CB[j] * CB[j]).sum(axis=1)[None, :]
        Yhat[:, j * sd : (j + 1) * sd] = CB[j][np.argmin(G, axis=1)]

    for it in range(max(1, opq_iters)):
        Y = X @ R
        if CB is None:
            # init draws: one shared rng stream in subspace order, the same
            # init discipline as pq_train
            CB = np.empty((m, k_eff, sd), dtype=np.float64)
            for j in range(m):
                S = np.ascontiguousarray(Y[:, j * sd : (j + 1) * sd])
                CB[j] = S[rng.choice(len(S), size=k_eff, replace=False)]
            steps = iters
        else:
            steps = 2
        # fit + encode/decode against the fresh codebooks (argmin of
        # ||c||^2 - 2 y.c per subspace — row-constant term dropped),
        # threaded across the m independent subspaces
        Yhat = np.empty_like(Y)
        with ThreadPoolExecutor(max_workers=min(m, os.cpu_count() or 1)) as ex:
            list(ex.map(lambda j: _fit_and_decode(j, Y, steps), range(m)))
        # orthogonal Procrustes update
        U, _, Vt = np.linalg.svd(X.T @ Yhat)
        R = U @ Vt
    # final codebook refit under the FINAL rotation (see docstring)
    Y = X @ R

    def _refit(j: int) -> None:
        S = np.ascontiguousarray(Y[:, j * sd : (j + 1) * sd])
        CB[j] = _lloyd(S, CB[j], 2)

    with ThreadPoolExecutor(max_workers=min(m, os.cpu_count() or 1)) as ex:
        list(ex.map(_refit, range(m)))
    books = [[[float(x) for x in row] for row in cb] for cb in CB]
    return R, books


def rotate_vecs(
    df: DataFrame, rotation: np.ndarray, vec_col: str, out_col: str | None = None
) -> DataFrame:
    """``df`` with ``vec_col`` replaced (or ``out_col`` added) by the rotated
    vector — one mapInArrow pass, one DGEMM per batch. The OPQ pre-transform
    applied to queries at search time (corpora rotate inside the encode
    kernel via pq_encode_with_codes_arrow(rotation=...))."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    from .topk import _arrow_vectors

    R = np.ascontiguousarray(rotation, dtype=np.float64)
    dst = out_col or vec_col
    fields = list(df.schema.fields)
    rot_field = StructField(dst, ArrayType(DoubleType()))  # rotation is f64
    if out_col:
        out_schema = StructType(fields + [rot_field])
    else:
        out_schema = StructType(
            [rot_field if f.name == vec_col else f for f in fields]
        )
    names = [f.name for f in df.schema.fields]
    replace_idx = names.index(vec_col) if not out_col else None

    def rot(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = _arrow_vectors(batch, vec_col) @ R
            n, d = V.shape
            arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32)),
                pa.array(V.ravel(), type=pa.float64()),
            )
            cols = [batch.column(i) for i in range(batch.num_columns)]
            if replace_idx is not None:
                cols[replace_idx] = arr
                yield pa.RecordBatch.from_arrays(cols, names=names)
            else:
                yield pa.RecordBatch.from_arrays(cols + [arr], names=names + [dst])

    return df.mapInArrow(rot, out_schema)


def _cb_spark_literal(codebooks: Codebooks) -> str:
    """Nested array literal (Spark SQL): CB[j][c][t], all 0-indexed via []."""
    return (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{x!r}D" for x in code) + ")" for code in cb
            )
            + ")"
            for cb in codebooks
        )
        + ")"
    )


def _encode_body_sql(var: str, codebooks: Codebooks) -> str:
    """Encode SQL body over an arbitrary vector expression ``var`` (a column
    reference or a lambda variable). Per-subspace distance is the same
    element-ascending double fold as vec_sqeuclidean; argmin is first-match
    (array_position on the min), matching the DuckDB twin's list_position
    semantics.

    Every reused value is let-bound via the 1-element-transform trick: the
    double-cast vector once per row, the subspace slice once per j, the
    distance list once per j. Higher-order functions run INTERPRETED in
    Spark, so the inner lambda must touch bound variables, not recompute
    array indexing — the zip_with form here is ~2x faster than indexing
    ``var[j*sd+i]`` (and the codebook element twice) per step, while the
    fold order (0.0-seeded, element-ascending acc + (x-y)*(x-y)) is
    bit-identical."""
    m, n_codes, sd = _validate(codebooks)
    cb = _cb_spark_literal(codebooks)
    dists = (
        f"transform(sequence(0, {n_codes - 1}), c -> "
        f"aggregate(zip_with(sv, {cb}[j][c], (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, z) -> acc + z))"
    )
    per_j = (
        f"transform(array(slice(vd, j * {sd} + 1, {sd})), sv -> "
        f"transform(array({dists}), d -> "
        f"cast(array_position(d, array_min(d)) - 1 as int))[0])[0]"
    )
    return (
        f"transform(array(cast({var} as array<double>)), vd -> "
        f"transform(sequence(0, {m - 1}), j -> {per_j}))[0]"
    )


def pq_encode_expr(vec_sql: str, codebooks: Codebooks) -> Column:
    """ARRAY<INT> of per-subspace nearest-code indices, as ONE parsed
    expression."""
    return F.expr(_encode_body_sql(f"`{vec_sql}`", codebooks))


def pq_encode_with_codes_arrow(
    df,
    codebooks: Codebooks,
    vec_col: str,
    centers: np.ndarray | None = None,
    drop_vec: bool = False,
    rotation: np.ndarray | None = None,
):
    """``df`` + a ``codes array<int>`` column in ONE mapInArrow pass — the
    corpus-materialization scale path, and the one Arrow PQ encode.

    Numerically BIT-IDENTICAL to pq_encode_expr / pq_encode_residual_expr
    (and the DuckDB twins), so the oracle contract survives the swap:
    * (x - y) and (x - y)*(x - y) are single IEEE ops — exact in any order;
    * the per-subspace distance accumulates one element index per step in
      ascending order (a zero-initialized running sum) — the same doubles
      as the 0.0-seeded element-ascending aggregate fold;
    * np.argmin returns the FIRST minimum — the same tie-break as
      array_position(d, array_min(d)).

    Data movement:
    * the vector column is reshaped straight from the Arrow values buffer
      (no per-row ``tolist()`` — exact, primitive upcasts);
    * residual encoding (``centers`` given) reads the batch's
      ``partition_id`` and subtracts the broadcast centroid matrix row
      instead of joining the centroid relation (x - y is a single IEEE op
      on the same doubles, so the residual is bit-identical to the joined
      zip_with form);
    * codes are emitted as one flat int32 buffer + offsets.

    ``drop_vec=True`` omits the vector column from the output (codes-only
    artifact). All other columns pass through untouched.

    ``rotation`` (OPQ): an orthogonal (dim, dim) matrix applied to the
    vector (after the residual subtraction, matching opq_train's
    rotate-then-quantize order) — one extra DGEMM per batch."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    from .topk import _arrow_vectors

    ROT = (
        np.ascontiguousarray(rotation, dtype=np.float64)
        if rotation is not None
        else None
    )
    CB = np.ascontiguousarray(codebooks, dtype=np.float64)  # (m, n_codes, sd)
    m, n_codes, sd = CB.shape
    CT = np.ascontiguousarray(centers, dtype=np.float64) if centers is not None else None

    keep = [f for f in df.schema.fields if not (drop_vec and f.name == vec_col)]
    out_schema = StructType(
        keep + [StructField("codes", ArrayType(IntegerType()))]
    )
    keep_names = [f.name for f in keep]

    def encode(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = _arrow_vectors(batch, vec_col)
            if CT is not None:
                pid = (
                    batch.column(batch.schema.get_field_index("partition_id"))
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                V = V - CT[pid]
            if ROT is not None:
                V = V @ ROT
            n = V.shape[0]
            S = V.reshape(n, m, sd)
            # sequential accumulation over the subspace-element axis: same
            # left-to-right fold as the SQL twin, (n x m x n_codes) working
            # memory instead of a (n x m x n_codes x sd) difference cube
            dist = np.zeros((n, m, n_codes), dtype=np.float64)
            for i in range(sd):
                d = S[:, :, None, i] - CB[None, :, :, i]
                dist += d * d
            codes = np.argmin(dist, axis=-1).astype(np.int32)  # first minimum
            arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32)),
                pa.array(codes.ravel()),
            )
            cols = [batch.column(batch.schema.get_field_index(c)) for c in keep_names]
            yield pa.RecordBatch.from_arrays(cols + [arr], names=keep_names + ["codes"])

    return df.mapInArrow(encode, out_schema)


def pq_encode_residual_expr(
    vec_sql: str, cent_sql: str, codebooks: Codebooks
) -> Column:
    """Residual encoding (FAISS IVFPQ semantics): codes quantize
    (vector - coarse_centroid), not the absolute vector. Within a bucket the
    residual spread is the cluster's noise scale, so the same codebook budget
    yields far finer distance resolution — the difference between a usable
    and a useless ADC shortlist at corpus scale. The residual is let-bound
    (computed once per row) via the 1-element-transform trick; encoding it
    inline would re-evaluate the 64-element zip_with per (subspace, code,
    element) reference."""
    res = (
        f"zip_with(cast(`{vec_sql}` as array<double>), "
        f"cast(`{cent_sql}` as array<double>), (x, y) -> x - y)"
    )
    return F.expr(
        f"transform(array({res}), rv -> {_encode_body_sql('rv', codebooks)})[0]"
    )


def _sub_dist_flat(vec_sql: str, code: list[float], offset: int) -> str:
    """Flat unrolled Σ(v[offset+i] - c_i)² — scalar constants only. DuckDB
    re-constructs any list LITERAL referenced inside a lambda on every
    element evaluation (measured: ~5 s/row even for a 128-literal codebook),
    so the twins must never put a codebook literal under a lambda. Flat
    left-associated `+` chains equal Spark's 0.0-seeded left fold exactly
    (0.0 + t ≡ t for the non-negative squared terms)."""
    return " + ".join(
        f"(CAST({vec_sql}[{offset + i + 1}] AS DOUBLE) - {float(c)!r}) * "
        f"(CAST({vec_sql}[{offset + i + 1}] AS DOUBLE) - {float(c)!r})"
        for i, c in enumerate(code)
    )


def pq_encode_sql(vec_sql: str, codebooks: Codebooks) -> str:
    """DuckDB twin of pq_encode_expr: per-subspace distance lists are built
    from fully unrolled scalar expressions (see _sub_dist_flat), argmin is
    first-match list_position over the let-bound list. Same fold order and
    tie-break as the Spark side."""
    m, n_codes, sd = _validate(codebooks)
    codes = []
    for j in range(m):
        dlist = ", ".join(
            _sub_dist_flat(vec_sql, codebooks[j][c], j * sd) for c in range(n_codes)
        )
        codes.append(
            f"list_transform([[{dlist}]], d -> "
            f"CAST(list_position(d, list_min(d)) - 1 AS INTEGER))[1]"
        )
    return "[" + ", ".join(codes) + "]"


def pq_adc_dist_sql(qvec_sql: str, codes_sql: str, codebooks: Codebooks) -> str:
    """DuckDB ADC distance: Σ_j sqeuclidean(q_subspace_j, CB[j][codes[j]]),
    unrolled as one CASE per subspace over flat scalar sums — j-ascending,
    element-ascending accumulation, bit-identical to the Spark LUT path."""
    m, n_codes, sd = _validate(codebooks)
    subs = []
    for j in range(m):
        branches = " ".join(
            f"WHEN {c} THEN {_sub_dist_flat(qvec_sql, codebooks[j][c], j * sd)}"
            for c in range(n_codes)
        )
        subs.append(f"(CASE {codes_sql}[{j + 1}] {branches} END)")
    return "(" + " + ".join(subs) + ")"


def pq_decode_expr(codes_sql: str, codebooks: Codebooks) -> Column:
    """Reconstructed ARRAY<DOUBLE> from codes (flatten of selected centroids)
    — the exact-equivalence bridge: sqeuclidean(q, decode(codes)) equals the
    ADC distance by construction."""
    _validate(codebooks)
    cb = _cb_spark_literal(codebooks)
    m = len(codebooks)
    return F.expr(
        f"flatten(transform(sequence(0, {m - 1}), j -> {cb}[j][`{codes_sql}`[j]]))"
    )


def pq_adc_search(
    queries: DataFrame,
    coded_corpus: DataFrame,
    codebooks: Codebooks,
    k: int = 10,
    codes_col: str = "codes",
) -> DataFrame:
    """ADC top-k: queries (query_id, q_vec) × coded corpus (neighbor_id,
    codes) -> (query_id, neighbor_id, rank, dist).

    Plan shape: the query side carries its LUT (m × n_codes doubles, computed
    once per query row) and is broadcast; the coded corpus only streams; the
    per-row distance is an m-step fold of two array lookups; per-query top-k
    goes through topk_agg's rank window so WindowGroupLimit applies partial
    top-k before the exchange (same shape as topk.knn_window, EXPLAIN.md)."""
    m, n_codes, sd = _validate(codebooks)
    cb = _cb_spark_literal(codebooks)
    # same let-bound zip_with shape as _encode_body_sql (bit-identical fold)
    lut = F.expr(
        f"transform(array(cast(q_vec as array<double>)), qd -> "
        f"transform(sequence(0, {m - 1}), j -> "
        f"transform(array(slice(qd, j * {sd} + 1, {sd})), qs -> "
        f"transform(sequence(0, {n_codes - 1}), c -> "
        f"aggregate(zip_with(qs, {cb}[j][c], (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, z) -> acc + z)))[0]))[0]"
    )
    q = queries.select("query_id", "q_vec").withColumn("lut", lut)
    dist = F.expr(
        f"aggregate(sequence(0, {m - 1}), 0.0D, (acc, j) -> acc + lut[j][`{codes_col}`[j]])"
    )
    pairs = F.broadcast(q).crossJoin(coded_corpus).withColumn("dist", dist)
    return topk_agg(pairs, k)
