"""Hypothesis property fuzz — Spark-free, so hundreds of examples run in
seconds. These triangulate: the registry already proves Spark == DuckDB on
the fixed testdata; here the DuckDB twins and numpy twins are checked
against INDEPENDENT pure-Python references on randomized inputs, and the
BMP/WAV codecs are fuzzed across shapes and signals."""

import duckdb
import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from filtered_ads_vector_search_spark.functions.hashing import (
    portable_hash_np,
    portable_hash_sql,
)
from filtered_ads_vector_search_spark.operators import layout as LY
from filtered_ads_vector_search_spark.operators.dedup import (
    line_dedup_corpus_sql,
)


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
