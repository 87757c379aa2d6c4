"""Hypothesis property fuzz — Spark-free, so hundreds of examples run in
seconds. These triangulate: the registry already proves Spark == DuckDB on
the fixed testdata; here the DuckDB twins and numpy twins are checked
against INDEPENDENT pure-Python references on randomized inputs, and the
JPEG codec is fuzzed across shapes/modes."""

import duckdb
import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from filtered_ads_vector_search_spark.functions.hashing import (
    portable_hash_np,
    portable_hash_sql,
)
from filtered_ads_vector_search_spark.multimodal import jpeg as J
from filtered_ads_vector_search_spark.operators import layout as LY
from filtered_ads_vector_search_spark.operators.dedup import (
    line_dedup_corpus_sql,
)


@given(
    seed=st.integers(0, 10**6),
    h=st.integers(8, 25),
    w=st.integers(8, 25),
    sub=st.booleans(),
    rst=st.sampled_from([0, 1, 3]),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_roundtrip_fuzz(seed, h, w, sub, rst):
    """Any smooth image, any (odd) shape, either chroma mode, with or
    without restart markers: encode is deterministic, decode returns the
    input shape, and fidelity clears a PSNR floor."""
    rng = np.random.RandomState(seed)
    base = rng.randint(20, 235, (4, 4, 3)).astype(np.float64)
    ys = (np.arange(h) * 4) // h
    xs = (np.arange(w) * 4) // w
    img = np.clip(base[ys][:, xs] + rng.uniform(-6, 6, (h, w, 3)), 0, 255).astype(
        np.uint8
    )
    raw = J.encode_jpeg(img, quality=92, subsample=sub, restart_interval=rst)
    assert raw == J.encode_jpeg(img, quality=92, subsample=sub, restart_interval=rst)
    meta = J.decode_jpeg_meta(raw)
    assert (meta["width"], meta["height"]) == (w, h)
    dec = J.decode_jpeg_pixels(raw)
    assert dec.shape == img.shape
    mse = ((dec.astype(float) - img.astype(float)) ** 2).mean()
    psnr = 10 * np.log10(255**2 / max(mse, 1e-9))
    if not sub:
        assert psnr > 24.0, (seed, h, w, sub, rst, psnr)
    else:
        # 4:2:0's fidelity is bounded by chroma subsampling itself, not the
        # codec: on tiny sharp-edged images the LOSSLESS subsample+upsample
        # pipeline can land at ~16 dB. Assert the codec either tracks that
        # per-image theoretical limit (within 2.5 dB — dominant when the
        # image is subsample-hostile) or clears the fixed good-quality
        # floor (dominant when the limit is high and q92 quantization noise
        # is the remaining gap).
        bound = min(_ideal_420_psnr(img) - 2.5, 24.0)
        assert psnr > bound, (seed, h, w, rst, psnr, bound)


@given(
    seed=st.integers(0, 10**6),
    h=st.integers(8, 25),
    w=st.integers(8, 25),
    sub=st.booleans(),
    quality=st.sampled_from([35, 80, 95]),
    noisy=st.booleans(),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_progressive_equals_baseline_fuzz(seed, h, w, sub, quality, noisy):
    """Any image shape, chroma mode, and quality: the progressive (SOF2)
    stream decodes to EXACTLY the baseline decode of the same coefficients
    — the successive-approximation chain (Al 1 -> 0) is lossless, whatever
    mix of EOB runs / ZRL / refinement bits the content produces."""
    rng = np.random.RandomState(seed)
    if noisy:
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    else:
        base = rng.randint(20, 235, (4, 4, 3)).astype(np.float64)
        ys = (np.arange(h) * 4) // h
        xs = (np.arange(w) * 4) // w
        img = np.clip(base[ys][:, xs] + rng.uniform(-6, 6, (h, w, 3)), 0, 255).astype(
            np.uint8
        )
    db = J.decode_jpeg_pixels(J.encode_jpeg(img, quality=quality, subsample=sub))
    dp = J.decode_jpeg_pixels(
        J.encode_jpeg(img, quality=quality, subsample=sub, progressive=True)
    )
    assert (db == dp).all(), (seed, h, w, sub, quality, noisy)


def _ideal_420_psnr(img: np.ndarray) -> float:
    """PSNR of the lossless 4:2:0 pipeline (color transform + 2x2 chroma
    mean + replicate upsample + inverse transform) — the subsampling bound
    the codec cannot beat."""
    px = img.astype(np.float64)
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128 + 0.5 * r - 0.418688 * g - 0.081312 * b
    h, w = y.shape

    def pad16(p):
        ph = (p.shape[0] + 15) // 16 * 16
        pw = (p.shape[1] + 15) // 16 * 16
        return np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")

    def down_up(p):
        q = pad16(p)
        d = q.reshape(q.shape[0] // 2, 2, q.shape[1] // 2, 2).mean(axis=(1, 3))
        return np.repeat(np.repeat(d, 2, 0), 2, 1)[:h, :w]

    cbu, cru = down_up(cb), down_up(cr)
    rr = y + 1.402 * (cru - 128)
    gg = y - 0.344136 * (cbu - 128) - 0.714136 * (cru - 128)
    bb = y + 1.772 * (cbu - 128)
    rec = np.clip(np.round(np.stack([rr, gg, bb], 2)), 0, 255)
    mse = ((rec - px) ** 2).mean()
    return 10 * np.log10(255**2 / max(mse, 1e-9))


def _morton_py(x: int, y: int, bits: int = 16) -> int:
    out = 0
    for b in range(bits):
        out |= ((x >> b) & 1) << (2 * b)
        out |= ((y >> b) & 1) << (2 * b + 1)
    return out


@given(x=st.integers(0, 2**16 - 1), y=st.integers(0, 2**16 - 1))
@settings(max_examples=200, deadline=None)
def test_morton_sql_twin_matches_python(x, y):
    con = duckdb.connect()
    got = con.sql(
        f"SELECT {LY.zorder_key_sql(str(x), str(y))} AS zk"
    ).fetchone()[0]
    assert got == _morton_py(x, y)


@given(v=st.integers(0, (1 << 60) - 1), seed=st.integers(0, 10_000))
@settings(max_examples=200, deadline=None)
def test_portable_hash_numpy_twin_matches_sql(v, seed):
    """The Arrow kernels' numpy hash must equal the SQL form bit for bit —
    the Bloom broadcast path's oracle contract hangs on this."""
    con = duckdb.connect()
    got_sql = con.sql(
        f"SELECT {portable_hash_sql(str(v), seed=seed)} AS h"
    ).fetchone()[0]
    got_np = int(portable_hash_np(np.array([v], dtype=np.int64), seed=seed)[0])
    assert got_np == got_sql


_LINE_POOL = [
    "shared boilerplate line",
    "subscribe now",
    "alpha beta gamma",
    "unique-ish content one",
    "unique-ish content two",
    "  ",
    "",
    "another body line",
]


def _line_dedup_ref(docs, min_occ=2):
    """Independent pure-Python reference of the C4 line-dedup contract."""
    occ: dict[str, int] = {}
    for _d, t in docs:
        for line in t.split("\n"):
            n = line.strip()
            if n:
                occ[n] = occ.get(n, 0) + 1
    canon: dict[str, tuple[int, int]] = {}
    for d, t in sorted(docs):
        for p, line in enumerate(t.split("\n")):
            n = line.strip()
            if n and n not in canon:
                canon[n] = (d, p)
    out = []
    for d, t in docs:
        lines = t.split("\n")
        kept = [
            line
            for p, line in enumerate(lines)
            if not (
                line.strip()
                and occ[line.strip()] >= min_occ
                and canon[line.strip()] != (d, p)
            )
        ]
        out.append((d, "\n".join(kept), len(lines), len(lines) - len(kept)))
    return sorted(out)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(_LINE_POOL), min_size=1, max_size=6),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=60, deadline=None)
def test_line_dedup_sql_twin_matches_python_reference(docs):
    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    sql = line_dedup_corpus_sql("SELECT doc_id, text FROM d")
    got = sorted(con.sql(sql).fetchall())
    assert got == _line_dedup_ref(rows)


@settings(max_examples=30, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(3, 120),
    q=st.integers(1, 12),
    d=st.sampled_from([4, 8, 64]),
    top=st.integers(1, 12),
    dup_every=st.integers(0, 3),
)
def test_blas_scorer_topk_set_matches_fold_fuzz(seed, n, q, d, top, dup_every):
    """The DGEMM bucket scorer must select a top-k set whose DISTANCE
    MULTISET matches the element-ascending fold scorer's for any bucket.
    Column identity is NOT asserted on exact-duplicate plateaus: DGEMM's
    internal blocking can give identical input columns doubles one ulp
    apart across a block boundary (hypothesis found n=109, dup_every=1,
    where the plateau carries two distinct doubles and blas represents it
    with a different — identical-vector — row id than the fold's lowest-id
    pick). Away from plateaus the column sets must agree exactly."""
    from filtered_ads_vector_search_spark.operators.topk import (
        _sqeuclidean_blas_scorer,
        _sqeuclidean_bucket_scorer,
        _topk_set_mask,
    )

    rng = np.random.RandomState(seed)
    V = rng.randn(n, d)
    if dup_every:
        V[:: dup_every + 1] = V[0]  # exact-duplicate plateau
    Q = rng.randn(q, d)
    qsel = np.arange(q)
    t = min(top, n)
    sc_fold = _sqeuclidean_bucket_scorer(Q, qsel, 0, V, ())(0, q)
    sc_blas = _sqeuclidean_blas_scorer(Q, qsel, 0, V, ())(0, q)
    assert np.allclose(sc_fold, sc_blas, rtol=1e-9, atol=1e-9)
    m_fold = _topk_set_mask(sc_fold, t)
    m_blas = _topk_set_mask(sc_blas, t)
    assert m_fold.sum(axis=1).tolist() == m_blas.sum(axis=1).tolist()
    for qi in range(q):
        # same selected-distance multiset (the semantic contract)
        assert np.allclose(
            np.sort(sc_fold[qi][m_fold[qi]]),
            np.sort(sc_blas[qi][m_blas[qi]]),
            rtol=1e-9, atol=1e-9,
        ), qi
        # any column-identity difference must be between rows that are the
        # same VECTOR (a duplicate plateau) — never two distinct rows
        diff = np.nonzero(m_fold[qi] != m_blas[qi])[0]
        for col in diff:
            twins = np.nonzero((V == V[col]).all(axis=1))[0]
            assert len(twins) > 1, (qi, col)  # col sits on a plateau
            assert any(m_fold[qi][c] or m_blas[qi][c] for c in twins if c != col)


@given(seed=st.integers(0, 10**6), n=st.integers(1, 400))
@settings(max_examples=40, deadline=None)
def test_mulaw_companding_fuzz(seed, n):
    """G.711 mu-law on arbitrary int16 signals: the companded error is
    bounded by half the segment step everywhere (segment step = 8 << exp,
    exp from the magnitude's bit position), and re-encoding a decoded
    signal is a fixed point (decode . encode . decode == decode)."""
    from filtered_ads_vector_search_spark.multimodal import codecs as C

    rng = np.random.RandomState(seed)
    x = rng.randint(-32768, 32768, size=n).astype(np.int16)
    y = C.mulaw_decode(C.mulaw_encode(x))
    mag = np.minimum(np.abs(x.astype(np.int32)), 32635) + 0x84
    exp = (np.floor(np.log2(mag)).astype(np.int32) - 7).clip(0, 7)
    step = (8 << exp).astype(np.int32)
    clip_slack = np.abs(x.astype(np.int32)) - 32635
    err = np.abs(y.astype(np.int32) - x.astype(np.int32))
    assert np.all(err <= step // 2 + np.maximum(clip_slack, 0) + 1)
    # decoded signals are exactly representable -> companding is idempotent
    np.testing.assert_array_equal(C.mulaw_decode(C.mulaw_encode(y)), y)


@given(
    seed=st.integers(0, 10**6),
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    with_alpha=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_bmp32_roundtrip_fuzz(seed, h, w, with_alpha):
    """32-bit BGRA BMP: any shape round-trips pixel-exact regardless of the
    alpha plane content (BI_RGB alpha is carried but not interpreted)."""
    from filtered_ads_vector_search_spark.multimodal import codecs as C

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    alpha = rng.randint(0, 256, size=(h, w)).astype(np.uint8) if with_alpha else None
    raw = C.encode_bmp_32bit(px, alpha)
    meta = C.decode_bmp_meta(raw)
    assert (meta["width"], meta["height"]) == (w, h)
    np.testing.assert_array_equal(C.decode_bmp_pixels(raw), px)


@given(
    seed=st.integers(0, 10_000),
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    pred=st.integers(1, 7),
    rst=st.sampled_from([0, 1, 7]),
    pt=st.sampled_from([0, 0, 0, 2]),
    gray=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_lossless_roundtrip_fuzz(seed, h, w, pred, rst, pt, gray):
    """Lossless SOF3 over pure noise (every difference category), any shape
    down to 1x1, every predictor, with/without restarts and point
    transform: encode is deterministic and decode is BIT-exact (up to the
    Pt low bits dropped by design)."""
    rng = np.random.RandomState(seed)
    shape = (h, w) if gray else (h, w, 3)
    img = rng.randint(0, 256, size=shape, dtype=np.uint8)
    raw = J.encode_jpeg_lossless(
        img, predictor=pred, point_transform=pt, restart_interval=rst
    )
    assert raw == J.encode_jpeg_lossless(
        img, predictor=pred, point_transform=pt, restart_interval=rst
    )
    meta = J.decode_jpeg_meta(raw)
    assert (meta["width"], meta["height"]) == (w, h)
    dec = J.decode_jpeg_pixels(raw)
    want = (img >> pt) << pt
    if gray:
        want = np.stack([want] * 3, axis=2)
    assert np.array_equal(dec, want)


@given(seed=st.integers(0, 1000), cut=st.floats(0.3, 0.95))
@settings(max_examples=20, deadline=None)
def test_jpeg_lossless_truncated_stream_raises_cleanly(seed, cut):
    """A truncated lossless entropy stream raises ValueError (truncated /
    invalid-code / missing-SOS), never an opaque numpy/index error."""
    import pytest

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(9, 11, 3), dtype=np.uint8)
    raw = J.encode_jpeg_lossless(img, predictor=4)
    clipped = raw[: max(4, int(len(raw) * cut))]
    with pytest.raises((ValueError, NotImplementedError)):
        J.decode_jpeg_pixels(clipped)
