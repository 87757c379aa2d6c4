"""IVF + PQ composed tier — the FAISS-style IVFPQ / cuVS IVF-PQ analog.

The reference pairs a coarse index with a quantized corpus for billion-scale
search (its CAGRA/HNSW indexes search quantized corpora loaded by
utils_grid_search.py:342-420); the classic CPU-scale composition is IVFPQ:
coarse-prune buckets with an inverted file, then score only PQ CODES inside
the probed buckets via a per-(query, bucket) lookup table (ADC), optionally
exact-reranking the short ADC list. This module composes the two existing
tiers (operators/ann.py IVF, operators/pq.py ADC) into that one operator.

Codes quantize RESIDUALS (vector - coarse centroid), exactly as FAISS IVFPQ
does: within a bucket the residual spread is the cluster's noise scale, so
the same codebook budget resolves distances that absolute-vector codes blur
into one value — measured on the 1M-vector scale corpus, absolute codes gave
recall 0.10 at rerank=100 where residual codes give ~1.0. (``residual=False``
keeps the absolute variant for comparison.)

Scale story — the 100 TB search path this engine would actually run:
* the index artifact is (id, partition_id, codes): ~m bytes/row instead of
  dim x 4 — a 100 TB fp32 corpus becomes ~1.5 TB of codes, written bucketed
  by partition_id so a probe scan reads nprobe/n_centroids of THAT;
* the probe list carries one LUT per (query, probed bucket) — m x n_codes
  doubles x queries x nprobe rows, always broadcast; the coded corpus only
  ever streams through one equi-join on its bucket key;
* per-row ADC cost is an m-step fold of two array lookups — as an
  expression (the DuckDB-oracle tier; HOFs run interpreted) or, for large
  query batches, the bit-identical Arrow kernel (``search(arrow_adc=True)``,
  ~6x measured at 1000 queries x 1M rows); full vectors are touched only by
  the (optional) rerank of ~R rows per query.

Like the IVF and PQ tiers, two build flavors: ``build_fixed`` (hash-picked
centroids + arithmetic codebooks — the ENTIRE prune->encode->ADC->rerank
path is DuckDB-oracle-checkable) and ``build`` (trained KMeans coarse +
per-subspace Lloyd's codebooks fitted on residual samples — the quality
tier, pytest-verified recall floors).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import index_layout as layout
from .ann import (
    IVFIndex,
    _centroid_relation,
    _probed_scan,
    _widened_nprobe,
    _with_partition_id,
    centroid_matrix,
)
from .pq import (
    Codebooks,
    _validate,
    fixed_codebooks,
    opq_train,
    pq_encode_with_codes_arrow,
    pq_train,
    rotate_vecs,
)
from .topk import arrow_switch, knn_window, topk_agg


def _adc_bucket_scorer(Q, qsel, b, codes, extra):
    """ADC via a per-bucket residual LUT: LUT entries accumulate subspace
    elements in ascending order from 0.0 and ADC sums LUT cells in
    ascending j — the same IEEE doubles as the 0.0D-seeded ascending
    aggregate folds of the expression form."""
    cent, CB, residual = extra
    m, nc, sd = CB.shape
    qr = Q[qsel] - cent[b][None, :] if residual else Q[qsel]
    S = qr.reshape(len(qsel), m, sd)
    lut = np.zeros((len(qsel), m, nc), dtype=np.float64)
    for el in range(sd):  # ascending-element left fold
        d = S[:, :, None, el] - CB[None, :, :, el]
        lut += d * d

    def chunk(c0, c1):
        lc = lut[c0:c1]
        sc = lc[:, 0, codes[:, 0]]
        for j in range(1, m):  # ascending-j left fold
            sc = sc + lc[:, j, codes[:, j]]
        return sc

    return chunk


__all__ = ["IVFPQIndex"]


def _rotation(manifest: dict) -> np.ndarray | None:
    rot = manifest["rotation"]
    return None if rot is None else np.array(rot, dtype=np.float64)


@dataclass
class IVFPQIndex:
    centroids: DataFrame  # (centroid_id int, centroid array<float>)
    coded: DataFrame      # (id, partition_id, codes, + vec col when rerank kept)
    codebooks: Codebooks
    n_centroids: int
    build_seconds: float
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    has_vectors: bool = True
    residual: bool = True
    # tiny hash-gated sample of the non-vector/non-code columns
    # (loaded layouts): adaptive_nprobe's selectivity estimate reads this,
    # never the full coded relation
    sel_sample: DataFrame | None = None
    # OPQ pre-transform (FAISS's shipping OPQ{m},IVF{nc},PQ{m} composition):
    # orthogonal (dim, dim) rotation the residuals were encoded under —
    # codes quantize (x - c) @ R, search builds LUTs from (q - c) @ R.
    # R orthogonal => rotated-space distances ARE original-space distances,
    # so every downstream ADC/rank kernel is unchanged; None = plain IVFPQ.
    rotation: np.ndarray | None = None

    @staticmethod
    def _from_ivf(
        ivf: IVFIndex,
        codebooks: Codebooks,
        keep_vectors: bool,
        residual: bool,
        t0: float,
        id_col: str,
        vec_col: str,
        rotation: np.ndarray | None = None,
    ) -> "IVFPQIndex":
        # Fused Arrow-batched exact encode (pq_encode_with_codes_arrow):
        # bit-identical to the expression/oracle fold, ~100x the
        # interpreted-HOF throughput, and for residual codes it reads the
        # batch's partition_id against the broadcast centroid matrix —
        # no centroid join, no per-row list decode — on the one corpus-wide
        # materialization scan. EVERY corpus column (metadata like rating
        # buckets included) passes through so filtered search predicates
        # bind against the coded layout; only the vector is dropped when
        # the caller asked for a codes-only artifact.
        centers = centroid_matrix(ivf)
        # repartition+sort on the bucket key: co-locate each bucket so the
        # Arrow ADC kernel's per-(batch, bucket) top-R partials actually cap
        # (see IVFIndex.build) — one build-time shuffle of the coded rows
        coded = (
            pq_encode_with_codes_arrow(
                ivf.assigned,
                codebooks,
                vec_col,
                centers=centers if residual else None,
                drop_vec=not keep_vectors,
                rotation=rotation,
            )
            .repartition(F.col("partition_id"))
            .sortWithinPartitions("partition_id")
            .persist()
        )
        # ONE materialization pass: the IVF assignment is built lazy
        # (materialize=False), so partition assignment and code assignment
        # fuse into this single corpus scan
        coded.count()
        ivf.assigned.unpersist()  # no-op for the lazy path; safe either way
        idx = IVFPQIndex(
            centroids=ivf.centroids,
            coded=coded,
            codebooks=codebooks,
            n_centroids=ivf.n_centroids,
            build_seconds=time.time() - t0,
            id_col=id_col,
            vec_col=vec_col,
            has_vectors=keep_vectors,
            residual=residual,
            rotation=rotation,
        )
        idx._centroid_mat = centers
        return idx

    @staticmethod
    def build_fixed(
        corpus: DataFrame,
        n_centroids: int = 16,
        m: int = 4,
        n_codes: int = 16,
        dim: int = 64,
        keep_vectors: bool = True,
        residual: bool = True,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFPQIndex":
        """Deterministic composed index: hash-picked coarse centroids
        (IVFIndex.build_fixed) + arithmetic codebooks (pq.fixed_codebooks).
        Every stage — centroid pick, bucket assignment, residual code
        assignment, probe ranking, ADC scoring, rerank — is reproducible in
        SQL."""
        t0 = time.time()
        ivf = IVFIndex.build_fixed(
            corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
            materialize=False,
        )
        books = fixed_codebooks(dim=dim, m=m, n_codes=n_codes)
        return IVFPQIndex._from_ivf(
            ivf, books, keep_vectors, residual, t0, id_col, vec_col
        )

    @staticmethod
    def build(
        corpus: DataFrame,
        n_centroids: int = 64,
        m: int = 8,
        n_codes: int = 16,
        seed: int = 42,
        keep_vectors: bool = True,
        residual: bool = True,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        opq: bool = False,
        opq_iters: int = 8,
    ) -> "IVFPQIndex":
        """Quality tier: trained KMeans coarse quantizer + per-subspace
        Lloyd's codebooks. With ``residual=True`` the codebooks are fitted on
        a (bounded, deterministic) sample of RESIDUALS — the distribution the
        codes will actually quantize.

        ``opq=True`` composes the OPQ pre-transform with the residual tier —
        FAISS's shipping ``OPQ{m},IVF{nc},PQ{m}`` configuration: an
        orthogonal rotation R is trained (Ge et al. CVPR 2013 alternation,
        pq.opq_train) and codes quantize the ROTATED residuals
        ``(x - c) @ R``. Unlike FAISS's OPQMatrix (fit on raw vectors before
        the IVF exists), R here is fit directly on the residual sample — the
        distribution the codes actually quantize. Coarse assignment stays in
        original space (R orthogonal => rotated-space assignment ranks the
        same distances); search builds its LUTs from rotated query residuals
        and reranks against the untouched original vectors. No new
        exchanges: the rotation is one extra DGEMM inside the existing
        encode kernel and one tiny query/centroid-side pass at search."""
        # materialize=False (round 11, matching build_fixed): the lazy
        # assignment is recomputed by the residual-sample scan and the
        # coded materialization — but _with_partition_id is ONE cheap
        # Arrow DGEMM per batch, while the persist it replaces shuffles and
        # caches the full wide corpus (3 GB at 1M x 768d) for exactly two
        # readers. The 768-d profile showed the materialized coarse phase
        # carrying ~90 s of non-k-means cost; the artifact is bit-identical
        # either way (the hash-gated sample and the encode read the same
        # deterministic assignment).
        t0 = time.time()
        # ONE sampling scan for the whole composed build (round 11): the
        # coarse k-means and the residual codebook training draw the SAME
        # deterministic raw-vector-hash sample, so collect it once and pass
        # it to both (was: IVFIndex.build and _train_sample_residual each
        # ran their own identical bounded_hash_take scan). Artifacts are
        # bit-identical — same membership, same order, same arithmetic
        # (see the cost history in _train_sample_raw/_train_sample_residual:
        # 181 s -> 44.6 s -> one-scan form).
        from .pq import _residuals_for_sample, _train_sample_raw, opq_fit, pq_fit

        X_raw = _train_sample_raw(corpus, vec_col, 100_000)
        ivf = IVFIndex.build(
            corpus, n_centroids=n_centroids, seed=seed, id_col=id_col,
            vec_col=vec_col, materialize=False, train_matrix=X_raw,
        )
        rotation: np.ndarray | None = None
        if residual:
            X = _residuals_for_sample(X_raw, ivf._centers_np)
            if opq:
                rotation, books = opq_fit(
                    X, m=m, n_codes=n_codes, seed=seed, opq_iters=opq_iters
                )
            else:
                books = pq_fit(X, m=m, n_codes=n_codes, seed=seed)
        elif opq:
            rotation, books = opq_train(
                corpus, vec_col=vec_col, m=m, n_codes=n_codes,
                seed=seed, opq_iters=opq_iters,
            )
        else:
            books = pq_train(corpus, vec_col=vec_col, m=m, n_codes=n_codes, seed=seed)
        return IVFPQIndex._from_ivf(
            ivf, books, keep_vectors, residual, t0, id_col, vec_col,
            rotation=rotation,
        )

    def write_bucketed(self, path: str) -> None:
        """Persist the composed layout (see `index_layout`) partitioned by
        bucket: probe scans prune to nprobe directories of CODES (not
        vectors). The manifest carries the centroid matrix, codebooks,
        residual flag and OPQ rotation, so load() restores a searchable
        index; the per-bucket stats and the selectivity sample let
        search-time policies avoid ever scanning the coded relation."""
        layout.write_layout(
            path,
            self.coded,
            "ivfpq",
            "coded",
            "partition_id",
            self.id_col,
            self.vec_col,
            sample_drop=(self.vec_col, "codes"),
            derived=("codes",),
            centroids=centroid_matrix(self).tolist(),
            codebooks=[[[float(x) for x in c] for c in cb] for cb in self.codebooks],
            residual=bool(self.residual),
            rotation=None if self.rotation is None else self.rotation.tolist(),
        )

    @staticmethod
    def append_to_layout(
        spark, path: str, new_rows: DataFrame, batch_id: int | None = None
    ) -> int:
        """Incremental add (FAISS `index.add` semantics): assign new vectors
        to the layout's existing centroids, residual-encode them with the
        layout's codebooks (under its OPQ rotation, if any), and append to
        the bucketed coded Parquet — only the touched bucket directories
        grow; nothing is retrained or rewritten. Appended rows carry EVERY
        column of the written layout's schema; ``batch_id`` makes the
        append idempotent per streaming batch (see
        `index_layout.append_layout`). Returns rows appended."""

        def encode(m: dict, rows: DataFrame) -> DataFrame:
            centers = np.array(m["centroids"])
            return pq_encode_with_codes_arrow(
                _with_partition_id(rows, centers, m["vec_col"]),
                m["codebooks"],
                m["vec_col"],
                centers=centers if m["residual"] else None,
                rotation=_rotation(m),
            )

        return layout.append_layout(spark, path, "ivfpq", new_rows, encode, batch_id)

    @staticmethod
    def compact_layout(spark, path: str, files_per_bucket: int = 1) -> int:
        """Fold per-batch appends into the base coded layout and bound files
        per bucket (see `index_layout.compact_layout`)."""
        return layout.compact_layout(spark, path, "ivfpq", files_per_bucket)

    @staticmethod
    def load(spark, path: str) -> "IVFPQIndex":
        """Open a written IVFPQ layout. Searches read only the probed
        partition directories of the coded table (partition pruning at the
        scan — the bucketed layout is the point of the tier)."""
        manifest, coded, sel_sample = layout.open_layout(spark, path, "ivfpq")
        centroids, mat = _centroid_relation(spark, np.array(manifest["centroids"]))
        idx = IVFPQIndex(
            centroids=centroids,
            coded=coded,
            codebooks=manifest["codebooks"],
            n_centroids=len(mat),
            build_seconds=0.0,
            id_col=manifest["id_col"],
            vec_col=manifest["vec_col"],
            has_vectors=manifest["vec_col"] in coded.columns,
            residual=manifest["residual"],
            sel_sample=sel_sample,
            rotation=_rotation(manifest),
        )
        idx._centroid_mat = mat
        return idx

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 8,
        rerank: int = 0,
        predicate: Column | None = None,
        adaptive_nprobe: bool = False,
        arrow_adc: bool | str = False,
    ) -> DataFrame:
        """Filtered approximate top-k over the composed index.

        1. rank centroids per query (tiny broadcast join + WindowGroupLimit);
        2. build the ADC LUT per (query, probed bucket) — residual space when
           the index is residual-coded — on the probe list (queries x nprobe
           rows, broadcast);
        3. equi-join the probe list onto the coded corpus's bucket key — the
           coded relation streams, nothing corpus-sized shuffles — and
           ADC-score candidates with an m-step LUT fold;
        4. ``rerank=0``: per-query ADC top-k. ``rerank=R``: per-query ADC
           top-R, then exact distance on the kept vectors re-orders the
           short list (two windows, but the second sees <= R rows/query).

        ``predicate`` (over coded-corpus columns) applies BEFORE candidate
        selection — filter-then-top-k, same contract as IVFIndex.search.

        ``arrow_adc=True`` (``"blas"`` is the same switch, see
        `topk.arrow_switch`) swaps step 3's per-candidate HOF fold for the
        Arrow-batched numpy kernel (``_adc_candidates_arrow``) — same
        results (bit-identical fold order, same (dist, id) tie-break),
        ~5-10x the throughput on large query batches, because HOF
        expressions run interpreted (~1us/candidate x m) while the kernel
        scores a whole bucket x query-chunk block per numpy op. The
        expression path stays the default: it is the DuckDB-oracle tier
        and has no driver-side query collect.

        OPQ indexes (``self.rotation`` set) search in ROTATED space: the
        query side and the centroid side are rotated once (one tiny DGEMM
        each — queries x dim and n_centroids x dim), then probe ranking,
        LUT build, and ADC scoring run the unchanged machinery on the
        rotated inputs (R orthogonal => same distances). The rerank tail
        stays in ORIGINAL space against the untouched kept vectors."""
        if rerank and not self.has_vectors:
            raise ValueError(
                "rerank requires keep_vectors=True at build time (the coded "
                "layout dropped the full-precision column)"
            )
        m, n_codes, sd = _validate(self.codebooks)
        if adaptive_nprobe and predicate is not None:
            # same policy as IVFIndex.search, estimated from the layout's
            # tiny selectivity sample when loaded — the coded relation is
            # never scanned outside the probe join itself
            nprobe = _widened_nprobe(self, nprobe, predicate)[1]
        nprobe = min(nprobe, self.n_centroids)

        corpus = self.coded
        if predicate is not None:
            corpus = corpus.filter(predicate)

        # OPQ: rotate the two SMALL relations once; everything downstream is
        # the plain-IVFPQ machinery over rotated inputs (see docstring).
        # `queries` (original) still feeds the rerank tail.
        if self.rotation is not None:
            q_search = rotate_vecs(
                queries.select("query_id", "q_vec"), self.rotation, "q_vec"
            )
            cent_search = self._rotated_centroids()[1]
        else:
            q_search = queries
            cent_search = self.centroids

        if arrow_switch(arrow_adc, "arrow_adc"):
            # probe ranking rides INSIDE the kernel (driver-side numpy over
            # the collected query matrix) — same fold + tie-break as the
            # knn_window job below, at none of its interpreted-HOF cost on
            # large query batches
            top = max(rerank, k) if rerank else k
            cand = self._adc_candidates_arrow(q_search, nprobe, corpus, top)
            return self._finish_from_candidates(cand, queries, corpus, k, rerank)

        probes = knn_window(
            q_search,
            cent_search,
            k=nprobe,
            metric="sqeuclidean",
            id_col="centroid_id",
            vec_col="centroid",
        ).select("query_id", F.col("neighbor_id").alias("partition_id"))

        # Codebooks ride as a broadcast 1-row relation, NOT an inline literal:
        # the m x n_codes x sd nested-array literal costs ~0.9s of parse +
        # analysis per search (measured), while a column reference is a
        # 2-token tree — same doubles either way.
        spark = self.coded.sparkSession
        # memoized per index: createDataFrame runs a driver-side job (~0.1s);
        # grid sweeps call search() many times over one index
        cb_df = getattr(self, "_cb_df", None)
        if cb_df is None:
            cb_df = spark.createDataFrame(
                [(self.codebooks,)], "cb array<array<array<double>>>"
            )
            self._cb_df = cb_df
        cb = "cb"
        if self.residual:
            # LUT per (query, bucket) over the query's residual vs that bucket
            qv = (
                "zip_with(cast(q_vec as array<double>), "
                "cast(centroid as array<double>), (x, y) -> x - y)"
            )
            lut_src = (
                probes.join(
                    F.broadcast(
                        cent_search.select(
                            F.col("centroid_id").alias("partition_id"), "centroid"
                        )
                    ),
                    "partition_id",
                )
                .join(F.broadcast(q_search.select("query_id", "q_vec")), "query_id")
            )
        else:
            qv = "cast(q_vec as array<double>)"
            lut_src = probes.join(
                F.broadcast(q_search.select("query_id", "q_vec")), "query_id"
            )
        # let-bound zip_with form (see pq._encode_body_sql): the residual/query
        # vector binds once, each subspace slice once — bit-identical fold
        lut = F.expr(
            f"transform(array({qv}), qr -> "
            f"transform(sequence(0, {m - 1}), j -> "
            f"transform(array(slice(qr, j * {sd} + 1, {sd})), qs -> "
            f"transform(sequence(0, {n_codes - 1}), c -> "
            f"aggregate(zip_with(qs, {cb}[j][c], (x, y) -> (x - y) * (x - y)), "
            "0.0D, (acc, z) -> acc + z)))[0]))[0]"
        )
        probe_lut = lut_src.crossJoin(F.broadcast(cb_df)).select(
            "query_id", "partition_id", lut.alias("lut")
        )

        adc = F.expr(
            f"aggregate(sequence(0, {m - 1}), 0.0D, (acc, j) -> acc + lut[j][codes[j]])"
        )
        cand = (
            F.broadcast(probe_lut)
            .join(corpus, "partition_id")
            .select(
                "query_id", F.col(self.id_col).alias("neighbor_id"), adc.alias("dist")
            )
        )
        return self._finish_from_candidates(cand, queries, corpus, k, rerank)

    def _rotated_centroids(self) -> tuple[np.ndarray, DataFrame]:
        """Memoized rotated centroids: the id-ordered matrix of the per-row
        products ``c @ R`` (a matrix-at-once product rounds differently) and
        its (centroid_id, centroid) array<double> relation, which holds the
        same doubles — rotated once on the driver from `centroid_matrix`."""
        cached = getattr(self, "_cent_rot", None)
        if cached is None:
            R = np.ascontiguousarray(self.rotation, dtype=np.float64)
            mat = np.array([c @ R for c in centroid_matrix(self)])
            df = self.coded.sparkSession.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(mat)],
                "centroid_id int, centroid array<double>",
            )
            cached = self._cent_rot = (mat, df)
        return cached

    def _adc_candidates_arrow(
        self,
        queries: DataFrame,
        nprobe: int,
        corpus: DataFrame,
        top: int,
    ) -> DataFrame:
        """Arrow-batched ADC scoring — the large-query-batch throughput form.

        The expression path pays ~1us of interpreted HOF evaluation per
        (candidate row x m); at 10k queries x nprobe/n_centroids x 1M rows
        that is hundreds of seconds of pure expression overhead. This kernel
        broadcasts the (bounded) query matrix + probe lists + centroids +
        codebooks once, STATICALLY prunes the coded scan to the probed
        buckets (an isin on the partition column — stronger than the join's
        dynamic pruning), and scores each bucket x query-chunk block with
        numpy, emitting only a per-(query, chunk) local top-``top`` that the
        `topk_agg` merge reduces — the knn_scalable partial-top-k shape.
        The scaffolding (collect cap, broadcast, pre-sort/chunk/top-k-set
        discipline) is the shared kernel (`ann._probed_scan` ->
        `topk.scan_topk`); only `_adc_bucket_scorer` is ADC-specific.

        Numerically BIT-IDENTICAL to the expression form (same discipline as
        pq_encode_with_codes_arrow): LUT entries accumulate subspace elements in
        ascending order from 0.0 and ADC sums LUT cells in ascending j — the
        same IEEE doubles as the 0.0D-seeded ascending aggregate folds — and
        candidates are pre-sorted by neighbor_id so the top-k set mask
        reproduces the (dist, neighbor_id) tie-break exactly.

        The one driver-side collect is the query matrix (bounded: raises
        above topk.MAX_BROADCAST_QUERIES queries — shard the query batch
        upstream); the centroids come from the index's `centroid_matrix`,
        and the coded corpus never reaches the driver. Probe ranking happens
        right there over the collected matrix (ann._probe_lists_numpy, same
        fold + tie-break as the knn_window job the expression path runs).
        """
        # OPQ: the caller passes ROTATED queries; use the rotated centroids
        # to match, so probe ranking and the scorers' residuals both live in
        # rotated space — (Q@R - (c@R)) == (q - c)@R, the space the codes
        # quantize. The expression form reads the relation holding the same
        # rotated doubles, so both forms rank probes identically.
        if self.rotation is not None:
            cent, cent_df = self._rotated_centroids()
        else:
            cent, cent_df = centroid_matrix(self), self.centroids
        CB = np.ascontiguousarray(self.codebooks, dtype=np.float64)
        return _probed_scan(
            queries,
            corpus,
            "arrow_adc",
            (cent, nprobe, cent_df),
            scorer=_adc_bucket_scorer,
            top=top,
            id_col=self.id_col,
            data_col="codes",
            data_dtype="int64",
            extra=(cent, CB, self.residual),
        )

    def _finish_from_candidates(
        self,
        cand: DataFrame,
        queries: DataFrame,
        corpus: DataFrame,
        k: int,
        rerank: int,
    ) -> DataFrame:
        """Shared tail of both ADC physical forms: per-query ADC top-k (or
        top-R + exact rerank) over (query_id, neighbor_id, dist) ADC
        candidates. The rerank fetches the short list's vectors by
        streaming the corpus through one equi-join against the BROADCAST
        <= queries x R short list — never a corpus-side shuffle, and the
        candidate merge never carries vectors."""
        if not rerank:
            return topk_agg(cand, k)
        short = topk_agg(cand, max(rerank, k)).select("query_id", "neighbor_id")
        short = (
            corpus.select(F.col(self.id_col).alias("neighbor_id"), self.vec_col)
            .join(F.broadcast(short), "neighbor_id")
            .join(F.broadcast(queries.select("query_id", "q_vec")), "query_id")
        )
        exact = F.expr(
            f"aggregate(zip_with(cast(q_vec as array<double>), "
            f"cast({self.vec_col} as array<double>), (x, y) -> (x - y) * (x - y)), "
            "0.0D, (acc, x) -> acc + x)"
        )
        return topk_agg(short.select("query_id", "neighbor_id", exact.alias("dist")), k)

    def unpersist(self) -> None:
        self.coded.unpersist()
        if self.sel_sample is not None:
            self.sel_sample.unpersist()
        self.__dict__.pop("_sel_memo", None)
