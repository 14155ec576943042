"""Block-matrix layer vs numpy oracles (FIXTURES.md §B).

Mirrors the reference's own differential pattern: distributed result vs
local numpy (`/root/reference/Static Scheduler/wukong/tests/
test_collections.py:97-103` uses np.all/allclose against local compute).
Elementwise/transpose/GEMM are exact (deterministic summation order);
factorizations check reconstruction/orthogonality like the reference does.
"""

from __future__ import annotations

import numpy as np
import pytest

from wukong_spark.blockmatrix import BlockMatrix, cholesky_blocked


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(7)


def test_random_deterministic_roundtrip(spark):
    a1 = BlockMatrix.random(spark, 50, 30, 16, 16, seed=42).to_numpy()
    a2 = BlockMatrix.random(spark, 50, 30, 16, 16, seed=42).to_numpy()
    assert np.array_equal(a1, a2)
    assert a1.shape == (50, 30)
    assert 0.0 <= a1.min() and a1.max() < 1.0
    # different seed differs
    a3 = BlockMatrix.random(spark, 50, 30, 16, 16, seed=43).to_numpy()
    assert not np.array_equal(a1, a3)


def test_gen_block_chunked_fill_bitwise_identical():
    """_gen_block's chunked fill (r17 optimization: large one-shot rng
    allocations pay a pathological first-touch fault cost on some
    hosts) must stay bitwise identical to the one-shot stream — fusion
    correctness across every consumer depends on it."""
    from wukong_spark.blockmatrix import _gen_block

    for r, c, seed, bid in [
        (6250, 1000, 37, 3),  # > chunk threshold (50 MB block)
        (1024, 513, 41, 7),  # > threshold, non-divisible tail
        (100, 50, 5, 0),  # small-block one-shot path
    ]:
        ref = np.random.default_rng(seed + bid).random((r, c))
        assert np.array_equal(ref, _gen_block(seed, bid, r, c))


def test_from_to_numpy_roundtrip(spark, rng):
    a = rng.random((37, 23))
    m = BlockMatrix.from_numpy(spark, a, 10, 10)
    assert np.array_equal(m.to_numpy(), a)


def test_elementwise_exact(spark, rng):
    a, b = rng.random((40, 25)), rng.random((40, 25))
    ma = BlockMatrix.from_numpy(spark, a, 12, 12)
    mb = BlockMatrix.from_numpy(spark, b, 12, 12)
    assert np.array_equal(ma.add(mb).to_numpy(), a + b)
    assert np.array_equal(ma.subtract(mb).to_numpy(), a - b)
    assert np.array_equal(ma.multiply(mb).to_numpy(), a * b)
    assert np.array_equal(ma.scale(2.5).to_numpy(), a * 2.5)
    assert np.array_equal(ma.map_elementwise(np.exp).to_numpy(), np.exp(a))


def test_transpose_exact(spark, rng):
    a = rng.random((33, 21))
    m = BlockMatrix.from_numpy(spark, a, 8, 8)
    t = m.transpose()
    assert (t.n_rows, t.n_cols) == (21, 33)
    assert np.array_equal(t.to_numpy(), a.T)
    # x.T + y broadcast-style composite (test_collections.py:90-95)
    y = rng.random((21, 33))
    comp = t.add(BlockMatrix.from_numpy(spark, y, 8, 8))
    assert np.array_equal(comp.to_numpy(), a.T + y)


def test_reductions(spark, rng):
    a = rng.random((45, 18))
    m = BlockMatrix.from_numpy(spark, a, 12, 7)
    assert np.isclose(m.frobenius_norm(), np.linalg.norm(a))
    assert np.allclose(m.col_sums(), a.sum(axis=0))


def test_scalar_and_moment_reductions(spark, rng):
    """x.sum()/x.mean()/x.std(axis=0) — the reference's array-reduction
    triple (test_collections.py:92-94), exact vs numpy."""
    a = rng.random((45, 18))
    m = BlockMatrix.from_numpy(spark, a, 12, 7)
    assert np.isclose(m.sum(), a.sum())
    assert np.isclose(m.mean(), a.mean())
    assert np.allclose(m.col_means(), a.mean(axis=0))
    assert np.allclose(m.col_stds(), a.std(axis=0))
    assert np.allclose(m.col_stds(ddof=1), a.std(axis=0, ddof=1))


def test_gemm_matches_numpy(spark, rng):
    """GEMM (README.md:250-271) — exact vs an in-order numpy accumulation."""
    a, b = rng.random((48, 36)), rng.random((36, 28))
    ma = BlockMatrix.from_numpy(spark, a, 12, 12)
    mb = BlockMatrix.from_numpy(spark, b, 12, 12)
    c = ma.matmul(mb)
    assert (c.n_rows, c.n_cols) == (48, 28)
    assert np.allclose(c.to_numpy(), a @ b, atol=1e-12)


def test_gemm_rectangular_edge_blocks(spark, rng):
    a, b = rng.random((35, 22)), rng.random((22, 17))
    c = BlockMatrix.from_numpy(spark, a, 10, 6).matmul(
        BlockMatrix.from_numpy(spark, b, 6, 8)
    )
    assert np.allclose(c.to_numpy(), a @ b, atol=1e-12)


def test_gemm_tile_factor_heuristic():
    """The tile factor grows until tasks would idle or buffers outgrow the
    cap; tiny grids always stay at f=1."""
    from wukong_spark.blockmatrix import _gemm_tile_factor

    assert _gemm_tile_factor(4, 3, 12, 12, 32) == 1  # tiny grid
    assert _gemm_tile_factor(10, 10, 1000, 1000, 32) == 2  # reference dims
    # memory cap binds before parallelism does for huge blocks
    assert _gemm_tile_factor(100, 100, 4000, 4000, 32) == 1
    # large cluster: parallelism floor keeps tiles numerous
    assert _gemm_tile_factor(100, 100, 100, 100, 1000) == 3


def test_gemm_multiblock_tiles(spark, rng):
    """Grids big enough that matmul takes the f≥2 tiled path (ragged tile
    edges included) — must still match numpy exactly."""
    from wukong_spark.blockmatrix import _gemm_tile_factor

    a, b = rng.random((130, 110)), rng.random((110, 90))
    ma = BlockMatrix.from_numpy(spark, a, 10, 10)
    mb = BlockMatrix.from_numpy(spark, b, 10, 10)
    par = spark.sparkContext.defaultParallelism
    assert _gemm_tile_factor(ma.grid_rows, mb.grid_cols, 10, 10, par) >= 2
    c = ma.matmul(mb)
    assert (c.n_rows, c.n_cols) == (130, 90)
    assert (c.block_rows, c.block_cols) == (10, 10)
    assert np.allclose(c.to_numpy(), a @ b, atol=1e-10)


def test_gemm_fused_random_matches_materialized(spark):
    """Seed-generated operands fuse into the tile stage (keys-only shuffle,
    blocks regenerated post-sort).  The fused product must equal the product
    of the MATERIALIZED matrices exactly — to_numpy() evaluates the real
    generator path, matmul the fused one, so this cross-checks the
    regeneration formula block for block (ragged edges included)."""
    a = BlockMatrix.random(spark, 96, 70, 32, 24, seed=3)
    b = BlockMatrix.random(spark, 70, 85, 24, 32, seed=4)
    assert a.gen_seed == 3 and b.gen_seed == 4
    c = a.matmul(b)
    assert c.gen_seed is None
    assert np.allclose(c.to_numpy(), a.to_numpy() @ b.to_numpy(), atol=1e-12)


def test_gemm_fused_mixed_operands(spark, rng):
    """One fused (seeded) side unioned with one materialized side — the
    mixed null/real data column through the same shuffle."""
    x = rng.random((70, 9))
    a = BlockMatrix.random(spark, 40, 70, 16, 16, seed=8)
    mx = BlockMatrix.from_numpy(spark, x, 16, 9)
    c = a.matmul(mx)
    assert np.allclose(c.to_numpy(), a.to_numpy() @ x, atol=1e-12)
    # transform of a random matrix must NOT carry the seed (fusion would
    # silently drop the transform)
    assert a.scale(2.0).gen_seed is None
    assert a.transpose().gen_seed is None


def test_gemm_long_contraction_stream(spark, rng):
    """Contraction extent ≫ output extent (the 100×-k shape of VERDICT r2
    #2): the sorted-stream consumer must hold only one k-superchunk at a
    time and still accumulate exactly.  160 k-blocks against a 2×2 output
    grid exercises many flush_superchunk cycles per tile plus ragged k."""
    a, b = rng.random((40, 3130)), rng.random((3130, 40))
    ma = BlockMatrix.from_numpy(spark, a, 20, 20)
    mb = BlockMatrix.from_numpy(spark, b, 20, 20)
    c = ma.matmul(mb)
    assert (c.n_rows, c.n_cols) == (40, 40)
    assert np.allclose(c.to_numpy(), a @ b, atol=1e-9)


def test_gemm_tiled_sparse_blocks(spark, rng):
    """Missing blocks ≡ zero must hold on the tiled path too (triangular
    operand at a grid size that forces f≥2)."""
    n = 130
    t = np.tril(rng.random((n, n)))
    mt = BlockMatrix.from_numpy(spark, t, 10, 10)
    # drop the all-zero upper blocks like cholesky_blocked's output does
    from pyspark.sql import functions as F

    sparse = BlockMatrix(
        mt.df.filter(F.col("bi") >= F.col("bj")), n, n, 10, 10
    )
    c = sparse.matmul(sparse.transpose())
    assert np.allclose(c.to_numpy(), t @ t.T, atol=1e-10)


def test_tsqr(spark, rng):
    """TSQR (docs/examples/examples.rst:72-82): Q orthonormal, A = QR."""
    a = rng.random((200, 12))
    m = BlockMatrix.from_numpy(spark, a, 32, 12)
    q, r = m.tsqr()
    qn = q.to_numpy()
    assert np.allclose(qn.T @ qn, np.eye(12), atol=1e-10)
    assert np.allclose(qn @ r, a, atol=1e-10)
    assert np.allclose(r, np.triu(r))
    assert (np.diag(r) >= 0).all()


def test_svd_tall_skinny(spark, rng):
    """SVD (README.md:204-225): A = U Σ Vᵀ, U orthonormal, s matches numpy."""
    a = rng.random((150, 10))
    m = BlockMatrix.from_numpy(spark, a, 32, 10)
    u, s, vt = m.svd_tall_skinny()
    assert np.allclose(s, np.linalg.svd(a, compute_uv=False), atol=1e-8)
    un = u.to_numpy()
    assert np.allclose(un.T @ un, np.eye(10), atol=1e-8)
    assert np.allclose((un * s) @ vt, a, atol=1e-8)


def test_svd_compressed(spark, rng):
    """Randomized SVD (README.md:227-248): top-k sing. values on a low-rank
    + noise matrix within the HMT accuracy envelope."""
    k = 5
    base = rng.random((120, 8)) @ rng.random((8, 60))  # rank-8
    m = BlockMatrix.from_numpy(spark, base, 30, 15)
    u, s, vt = m.svd_compressed(k=k, seed=1)
    s_true = np.linalg.svd(base, compute_uv=False)[:k]
    assert np.allclose(s, s_true, rtol=1e-6)
    # reconstruction error at rank k close to optimal
    approx = (u.to_numpy() * s) @ vt
    err = np.linalg.norm(base - approx)
    opt = np.linalg.norm(np.linalg.svd(base, compute_uv=False)[k:])
    assert err <= opt * 1.5 + 1e-8


def test_svd_compressed_no_power_iter(spark, rng):
    """n_iter=0 — the dask default the reference example runs
    (la_svd_compressed_ref uses this config); exact on low-rank input."""
    base = rng.random((120, 8)) @ rng.random((8, 60))  # rank-8
    m = BlockMatrix.from_numpy(spark, base, 30, 15)
    _, s, _ = m.svd_compressed(k=5, seed=1, n_iter=0)
    s_true = np.linalg.svd(base, compute_uv=False)[:5]
    assert np.allclose(s, s_true, rtol=1e-6)


def test_cholesky(spark):
    """Cholesky (docs/examples/examples.rst:84-100) on the doc's own SPD
    construction: tril(ones) @ tril(ones).T — now the distributed path."""
    n = 100
    t = np.tril(np.ones((n, n)))
    spd = t @ t.T
    m = BlockMatrix.from_numpy(spark, spd, 25, 25)
    l_mat = cholesky_blocked(m).to_numpy()
    assert np.allclose(l_mat @ l_mat.T, spd, atol=1e-8)
    assert np.allclose(l_mat, np.tril(l_mat))
    assert np.allclose(l_mat, np.linalg.cholesky(spd), atol=1e-8)


def test_cholesky_distributed_2000(spark, rng):
    """Distributed Cholesky at the VERDICT r1 acceptance shape: 2000×2000,
    250-blocks, well-conditioned SPD; ‖LLᵀ−A‖∞ < 1e-8 with NO driver-side
    materialization of A inside the operator (checks run distributed)."""
    n = 2000
    a = rng.standard_normal((n, n))
    spd = a @ a.T / n + 2.0 * np.eye(n)
    m = BlockMatrix.from_numpy(spark, spd, 250, 250)
    l_bm = cholesky_blocked(m)
    recon = l_bm.matmul(l_bm.transpose())
    err = recon.subtract(m).max_abs()
    assert err < 1e-8
    # spot-check L itself against numpy on the driver (test-only collect)
    assert np.allclose(l_bm.to_numpy(), np.linalg.cholesky(spd), atol=1e-8)


def test_cholesky_edge_blocks(spark, rng):
    """Block size not dividing n: short edge blocks factor correctly."""
    n = 90
    a = rng.standard_normal((n, n))
    spd = a @ a.T / n + 2.0 * np.eye(n)
    m = BlockMatrix.from_numpy(spark, spd, 28, 28)
    l_mat = cholesky_blocked(m).to_numpy()
    assert np.allclose(l_mat, np.linalg.cholesky(spd), atol=1e-8)


def test_tsqr_tree_merge(spark, rng):
    """grid_rows > TSQR_TREE_FANOUT takes the distributed tree-merge path;
    factors must match the direct algorithm's guarantees exactly."""
    from wukong_spark.blockmatrix import TSQR_TREE_FANOUT

    a = rng.random((1600, 8))
    m = BlockMatrix.from_numpy(spark, a, 16, 8)  # 100 block rows > fanout
    assert m.grid_rows > TSQR_TREE_FANOUT
    q, r = m.tsqr()
    qn = q.to_numpy()
    assert np.allclose(qn.T @ qn, np.eye(8), atol=1e-10)
    assert np.allclose(qn @ r, a, atol=1e-10)
    assert np.allclose(r, np.triu(r))
    assert (np.diag(r) >= 0).all()


def test_tsqr_tree_merge_fused_seeded(spark, rng):
    """Seeded input through the tree path (r7): stage 1 carries only R1s
    and Q1 is regenerated in-task from (seed, bi) — the factors must still
    satisfy the full QR contract against the materialized matrix."""
    from wukong_spark.blockmatrix import TSQR_TREE_FANOUT

    m = BlockMatrix.random(spark, 1600, 8, 16, 8, seed=99)  # 100 rows > fanout
    assert m.grid_rows > TSQR_TREE_FANOUT and m.gen_seed is not None
    a = m.to_numpy()
    q, r = m.tsqr()
    qn = q.to_numpy()
    q.release()
    assert np.allclose(qn.T @ qn, np.eye(8), atol=1e-10)
    assert np.allclose(qn @ r, a, atol=1e-10)
    assert np.allclose(r, np.triu(r))
    assert (np.diag(r) >= 0).all()


def test_tsqr_direct_fused_seeded_edge_block(spark, rng):
    """Seeded direct path (r7 no-persist fusion) with a ragged last block
    (n % br != 0): in-task Q1 regeneration must reproduce stage 1's QR
    bitwise, including the short edge block."""
    m = BlockMatrix.random(spark, 150, 6, 32, 6, seed=41)
    assert m.gen_seed is not None
    a = m.to_numpy()
    q, r = m.tsqr()
    qn = q.to_numpy()
    q.release()
    assert np.allclose(qn.T @ qn, np.eye(6), atol=1e-10)
    assert np.allclose(qn @ r, a, atol=1e-10)


def test_qr_square_reference_shape(spark, rng):
    """General multi-block-column QR at the reference's own example shape —
    128×128 with 16×16 chunks (docs/examples/examples.rst:62-70)."""
    a = rng.random((128, 128))
    m = BlockMatrix.from_numpy(spark, a, 16, 16)
    q, r = m.qr()
    qn = q.to_numpy()
    assert np.allclose(qn.T @ qn, np.eye(128), atol=1e-9)
    assert np.allclose(qn @ r, a, atol=1e-9)
    assert np.allclose(r, np.triu(r), atol=1e-9)


def test_qr_tall_multi_panel_edge(spark, rng):
    """Tall multi-block-column QR with a ragged last panel (m % bc != 0)."""
    a = rng.random((300, 40))
    m = BlockMatrix.from_numpy(spark, a, 64, 16)  # panels 16,16,8
    q, r = m.qr()
    qn = q.to_numpy()
    assert np.allclose(qn.T @ qn, np.eye(40), atol=1e-9)
    assert np.allclose(qn @ r, a, atol=1e-9)


def test_qr_cgs_panel_path(spark, rng):
    """The CGS2 panel loop (taken for n_cols > QR_SINGLE_PANEL_MAX) —
    forced here on a small ragged input so both strategies stay covered."""
    a = rng.random((200, 40))
    m = BlockMatrix.from_numpy(spark, a, 32, 16)
    q, r = m.qr(force_panels=True)
    qn = q.to_numpy()
    assert np.allclose(qn.T @ qn, np.eye(40), atol=1e-9)
    assert np.allclose(qn @ r, a, atol=1e-9)
    assert np.allclose(r, np.triu(r), atol=1e-9)


def test_broadcasting_demean_rows(spark, rng):
    """x - x.mean(axis=1)[:, None] — the reference's broadcasting workload
    (test_collections.py:90-95)."""
    a = rng.random((60, 40))
    m = BlockMatrix.from_numpy(spark, a, 17, 13)  # ragged blocks on purpose
    means = m.row_sums() / a.shape[1]
    got = m.map_with_row_vector(means, lambda blk, v: blk - v).to_numpy()
    assert np.allclose(got, a - a.mean(axis=1)[:, None], atol=1e-12)


def test_broadcasting_standardize_cols(spark, rng):
    a = rng.random((50, 30))
    m = BlockMatrix.from_numpy(spark, a, 16, 7)
    mu = m.col_sums() / a.shape[0]
    got = m.map_with_col_vector(mu, lambda blk, v: blk - v).to_numpy()
    assert np.allclose(got, a - a.mean(axis=0), atol=1e-12)


def test_transpose_plus_other(spark, rng):
    """x.T + y (test_collections.py:90-95): transpose then block-aligned add."""
    x = rng.random((24, 36))
    y = rng.random((36, 24))
    bx = BlockMatrix.from_numpy(spark, x, 12, 12)
    by = BlockMatrix.from_numpy(spark, y, 12, 12)
    got = bx.transpose().add(by).to_numpy()
    assert np.array_equal(got, x.T + y)


def test_rechunk_exact(spark, rng):
    a = rng.random((53, 41))
    m = BlockMatrix.from_numpy(spark, a, 16, 16)
    r = m.rechunk(10, 25)
    assert (r.block_rows, r.block_cols) == (10, 25)
    assert np.array_equal(r.to_numpy(), a)  # pure data movement — bitwise
    # roundtrip back to the original blocking
    assert np.array_equal(r.rechunk(16, 16).to_numpy(), a)
    # identity rechunk passes through
    assert m.rechunk(16, 16) is m


def test_rechunk_coarsen_and_single_block(spark, rng):
    a = rng.random((30, 20))
    m = BlockMatrix.from_numpy(spark, a, 7, 6)  # ragged both axes
    assert np.array_equal(m.rechunk(30, 20).to_numpy(), a)
    assert np.array_equal(m.rechunk(64, 64).to_numpy(), a)


def test_vstack_hstack_exact(spark, rng):
    a, b = rng.random((23, 15)), rng.random((17, 15))
    ma = BlockMatrix.from_numpy(spark, a, 8, 8)
    mb = BlockMatrix.from_numpy(spark, b, 5, 9)  # incompatible blocking
    v = ma.vstack(mb)
    assert (v.n_rows, v.n_cols) == (40, 15)
    assert (v.block_rows, v.block_cols) == (8, 8)
    assert np.array_equal(v.to_numpy(), np.vstack([a, b]))

    c = rng.random((23, 11))
    mc = BlockMatrix.from_numpy(spark, c, 6, 4)
    h = ma.hstack(mc)
    assert (h.n_rows, h.n_cols) == (23, 26)
    assert np.array_equal(h.to_numpy(), np.hstack([a, c]))


def test_vstack_then_matmul(spark, rng):
    # stacked matrices feed the existing operator set unchanged
    a, b = rng.random((12, 10)), rng.random((8, 10))
    x = rng.random((10, 6))
    v = BlockMatrix.from_numpy(spark, a, 5, 5).vstack(
        BlockMatrix.from_numpy(spark, b, 4, 7)
    )
    mx = BlockMatrix.from_numpy(spark, x, 5, 6)
    got = v.matmul(mx).to_numpy()
    assert np.allclose(got, np.vstack([a, b]) @ x, atol=1e-12)


def test_slice_exact(spark, rng):
    a = rng.random((57, 43))
    m = BlockMatrix.from_numpy(spark, a, 16, 12)
    s = m.slice(5, 41, 7, 40)
    assert (s.n_rows, s.n_cols) == (36, 33)
    assert np.array_equal(s.to_numpy(), a[5:41, 7:40])
    # block-aligned slice and full-matrix slice
    assert np.array_equal(m.slice(16, 48, 12, 24).to_numpy(), a[16:48, 12:24])
    assert np.array_equal(m.slice(0, 57, 0, 43).to_numpy(), a)
    # single-element
    assert np.array_equal(m.slice(56, 57, 42, 43).to_numpy(), a[56:57, 42:43])


def test_cumsum_rows(spark, rng):
    a = rng.random((45, 22))
    m = BlockMatrix.from_numpy(spark, a, 10, 8)  # ragged both axes
    got = m.cumsum_rows().to_numpy()
    assert np.allclose(got, np.cumsum(a, axis=0), atol=1e-12)
    # single block row: offsets all zero, local path only
    m1 = BlockMatrix.from_numpy(spark, a, 64, 8)
    assert np.allclose(m1.cumsum_rows().to_numpy(), np.cumsum(a, axis=0), atol=1e-12)


def test_lstsq_matches_numpy(spark, rng):
    a = rng.random((400, 12))
    xt = rng.standard_normal((12, 2))
    b = a @ xt + 0.01 * rng.standard_normal((400, 2))
    ma = BlockMatrix.from_numpy(spark, a, 64, 12)
    mb = BlockMatrix.from_numpy(spark, b, 64, 2)
    got = ma.lstsq(mb)
    want, *_ = np.linalg.lstsq(a, b, rcond=None)
    assert np.abs(got - want).max() < 1e-9
    # multi-block-column A takes the qr() ladder path
    wide = rng.random((300, 40))
    bw = wide @ rng.standard_normal((40, 1))
    mw = BlockMatrix.from_numpy(spark, wide, 50, 16)
    gb = BlockMatrix.from_numpy(spark, bw, 50, 1)
    got_w = mw.lstsq(gb)
    want_w, *_ = np.linalg.lstsq(wide, bw, rcond=None)
    assert np.abs(got_w - want_w).max() < 1e-8


def test_cumsum_rows_absent_blocks(spark, rng):
    """Absent blocks ≡ zero (the convention cholesky output uses): their
    cumsum below nonzero blocks is the running offset, NOT zero."""
    a = rng.random((8, 4))
    a[2:6, :] = 0.0  # rows covered by blocks (1,*) in 2-row blocking
    m_full = BlockMatrix.from_numpy(spark, a, 2, 2)
    # drop the all-zero blocks entirely (bi in {1, 2})
    from pyspark.sql import functions as F
    sparse_df = m_full.df.filter(~F.col("bi").isin(1, 2))
    m = BlockMatrix(sparse_df, 8, 4, 2, 2)
    got = m.cumsum_rows().to_numpy()
    assert np.allclose(got, np.cumsum(a, axis=0), atol=1e-12)


def test_cumsum_cols(spark, rng):
    a = rng.random((20, 33))
    m = BlockMatrix.from_numpy(spark, a, 6, 9)
    assert np.allclose(m.cumsum_cols().to_numpy(), np.cumsum(a, axis=1), atol=1e-12)


def test_diagonal(spark, rng):
    a = rng.random((37, 23))
    m = BlockMatrix.from_numpy(spark, a, 10, 7)
    assert np.array_equal(m.diagonal(), np.diag(a))
    # wide case + square case
    b = rng.random((8, 30))
    assert np.array_equal(
        BlockMatrix.from_numpy(spark, b, 3, 11).diagonal(), np.diag(b)
    )


def test_argmax_argmin(spark, rng):
    a = rng.standard_normal((29, 17))
    m = BlockMatrix.from_numpy(spark, a, 8, 5)
    r, c = m.argmax()
    assert (r * 17 + c) == np.argmax(a)
    r, c = m.argmin()
    assert (r * 17 + c) == np.argmin(a)
    # tie at two positions resolves to the lowest flat index, like numpy
    t = np.zeros((6, 6))
    t[1, 2] = t[4, 4] = 5.0
    mt = BlockMatrix.from_numpy(spark, t, 3, 3)
    assert mt.argmax() == (1, 2)


def test_argmax_absent_blocks(spark, rng):
    """Absent blocks ≡ zero: with all present entries negative, the max is
    an absent zero position — numpy-first-occurrence semantics."""
    from pyspark.sql import functions as F

    a = -1.0 - rng.random((8, 8))  # strictly negative everywhere
    m_full = BlockMatrix.from_numpy(spark, a, 4, 4)
    m = BlockMatrix(m_full.df.filter(~((F.col("bi") == 0) & (F.col("bj") == 1))), 8, 8, 4, 4)
    dense = a.copy()
    dense[0:4, 4:8] = 0.0
    r, c = m.argmax()
    assert (r * 8 + c) == np.argmax(dense)
    # argmin unaffected (minimum stays in a present block)
    r, c = m.argmin()
    assert (r * 8 + c) == np.argmin(dense)
    # an entirely-filtered (all-zero) matrix: numpy picks index 0
    empty = BlockMatrix(m_full.df.filter(F.lit(False)), 8, 8, 4, 4)
    assert empty.argmax() == (0, 0)


def test_solve_triangular_and_spd(spark, rng):
    from wukong_spark.blockmatrix import solve_spd

    # forward/backward substitution on a cholesky factor
    idx = np.arange(100)
    spd = np.exp(-np.abs(idx[:, None] - idx[None, :]) / 10.0)
    m = BlockMatrix.from_numpy(spark, spd, 25, 25)
    m.df.persist()
    l_np = np.linalg.cholesky(spd)
    l_bm = cholesky_blocked(m)
    l_bm.df.persist()
    b = rng.standard_normal((100, 3))
    y = l_bm.solve_triangular(b, lower=True)
    assert np.abs(y - np.linalg.solve(l_np, b)).max() < 1e-9
    x = l_bm.solve_triangular(y, lower=True, transpose=True)
    assert np.abs(x - np.linalg.solve(spd, b)).max() < 1e-8
    l_bm.df.unpersist()

    # end-to-end SPD solve, 1-D RHS path
    b1 = rng.standard_normal(100)
    x1 = solve_spd(m, b1)
    assert x1.shape == (100,)
    assert np.abs(x1 - np.linalg.solve(spd, b1)).max() < 1e-8
    m.df.unpersist()


def test_argmax_nan_matches_numpy(spark, rng):
    """NaN propagation (ADVICE r5): np.argmax/argmin return the FIRST NaN
    position; the driver tie-break must not let NaN candidates lose."""
    a = rng.standard_normal((12, 9))
    a[5, 3] = np.nan
    a[7, 1] = np.nan  # later in row-major order — must not win
    m = BlockMatrix.from_numpy(spark, a, 4, 3)
    assert m.argmax() == (5, 3)
    assert (5 * 9 + 3) == np.argmax(a)
    assert m.argmin() == (5, 3)
    assert (5 * 9 + 3) == np.argmin(a)


def test_solve_triangular_missing_diag_raises(spark, rng):
    """A filtered input with an absent diagonal block must fail with a
    clear contract error, not an AttributeError on None (ADVICE r5)."""
    import pytest
    from pyspark.sql import functions as F

    t = np.tril(1.0 + rng.random((8, 8)))
    m_full = BlockMatrix.from_numpy(spark, t, 4, 4)
    m = BlockMatrix(
        m_full.df.filter(~((F.col("bi") == 1) & (F.col("bj") == 1))), 8, 8, 4, 4
    )
    with pytest.raises(ValueError, match=r"diagonal block \(1,1\)"):
        m.solve_triangular(rng.standard_normal((8, 2)), lower=True)


def test_cumsum_release_frees_offsets_cache(spark, rng):
    """cumsum_rows persists its offsets table internally; release() must
    unpersist it (ADVICE r5 — it used to linger until LRU eviction)."""
    a = rng.standard_normal((40, 12))
    m = BlockMatrix.from_numpy(spark, a, 16, 6)
    cs = m.cumsum_rows()
    got = cs.to_numpy()
    assert np.abs(got - np.cumsum(a, axis=0)).max() < 1e-12
    assert len(cs._cached_deps) == 1
    cs.release()
    assert cs._cached_deps == []
    cs.release()  # idempotent


def test_gramian_fused_matches_materialized(spark):
    """Seed-generated inputs take the in-task-generation gramian branch;
    it must agree EXACTLY with the materialized-scan branch (the GEMM
    fusion guard's pattern) — a drifting fused rng/bid convention plus a
    re-captured literal oracle would otherwise bake in wrong results."""
    a = BlockMatrix.random(spark, 3000, 48, 640, 48, seed=37)
    unfused = BlockMatrix(a.df, a.n_rows, a.n_cols, a.block_rows, a.block_cols)
    # tolerance a few ulps above zero: value-equal inputs can take
    # alignment-dependent BLAS kernel paths (arrow buffer view vs fresh
    # allocation); recipe drift would show up orders of magnitude larger
    assert np.abs(a.gramian() - unfused.gramian()).max() < 1e-9


def test_svd_compressed_fused_matches_materialized(spark):
    """Same guard for the sketch + transpose_matvec fusion inside
    svd_compressed (covers the power-iteration path too via n_iter=1).
    r18: the seeded path runs the single-pass sketch+projection with
    driver-side B = R⁻ᵀZᵀ — this pins it against the df-backed two-pass
    shape (exact-arithmetic identical; float gap bounded by
    cond(R)·eps, see tools/svd_fused_margin_audit.py)."""
    a = BlockMatrix.random(spark, 900, 700, 256, 256, seed=41)
    unfused = BlockMatrix(a.df, a.n_rows, a.n_cols, a.block_rows, a.block_cols)
    _, s_f, vt_f = a.svd_compressed(k=4, seed=2, n_iter=1)
    _, s_u, vt_u = unfused.svd_compressed(k=4, seed=2, n_iter=1)
    assert np.abs(np.asarray(s_f) - np.asarray(s_u)).max() < 1e-9
    assert np.abs(vt_f - vt_u).max() < 1e-9


def test_svd_compressed_fused_tree_tsqr_path(spark):
    """The fused single-pass sketch feeding tsqr's TREE merge (grid_rows
    above TSQR_TREE_FANOUT), with uneven edge blocks in both dims — the
    one shape combination the bench workloads never reach.  Checks σ/Vᵀ
    against the df-backed path and U's orthonormality end-to-end."""
    a = BlockMatrix.random(spark, 3350, 70, 100, 32, seed=7)  # 34 row blocks
    unfused = BlockMatrix(a.df, a.n_rows, a.n_cols, a.block_rows, a.block_cols)
    u_f, s_f, vt_f = a.svd_compressed(k=4, seed=3, n_iter=1)
    orth = np.abs(u_f.gramian() - np.eye(4)).max()
    u_f.release()
    u_u, s_u, vt_u = unfused.svd_compressed(k=4, seed=3, n_iter=1)
    u_u.release()
    assert np.abs(np.asarray(s_f) - np.asarray(s_u)).max() < 1e-9
    assert np.abs(vt_f - vt_u).max() < 1e-9
    assert orth < 1e-9


def test_transpose_matvec_fused_matches_join(spark, rng):
    """Seeded A (key rows, blocks regenerated in-task) vs materialized A
    through the same broadcast-Y join, including the absent-Y-block ≡ zero
    convention both must honor."""
    from pyspark.sql import functions as F

    a = BlockMatrix.random(spark, 1200, 300, 256, 128, seed=5)
    unfused = BlockMatrix(a.df, a.n_rows, a.n_cols, a.block_rows, a.block_cols)
    y_full = BlockMatrix.from_numpy(spark, rng.standard_normal((1200, 3)), 256, 3)
    # drop one Y block: contribution must be treated as zero, not KeyError
    y = BlockMatrix(y_full.df.filter(F.col("bi") != 2), 1200, 3, 256, 3)
    got = a.transpose_matvec(y)
    want = unfused.transpose_matvec(y)
    assert np.abs(got - want).max() < 1e-11
    yn = y_full.to_numpy()
    yn[2 * 256 : 3 * 256, :] = 0.0
    assert np.abs(got - a.to_numpy().T @ yn).max() < 1e-10


@pytest.mark.parametrize(
    "n, c, br",
    [(8192, 32, 1024), (1600, 8, 16)],  # 100 block rows > TSQR_TREE_FANOUT
    ids=["direct", "tree"],
)
def test_tsqr_fused_matches_materialized(spark, n, c, br):
    """A seed-generated input regenerates its blocks in-task (stage 1 and
    the Q stage's redone block QR); Q and R must match the materialized
    input's persisted-Q1 path exactly — on the direct merge and on the
    distributed tree merge."""
    a = BlockMatrix.random(spark, n, c, br, c, seed=5)
    # same blocks in at most 8 partitions: keeps the 100-block case quick
    unfused = BlockMatrix(a.df.coalesce(8), a.n_rows, a.n_cols, br, c)
    qf, rf = a.tsqr()
    qu, ru = unfused.tsqr()
    assert np.abs(rf - ru).max() < 1e-11
    assert qf.subtract(qu).max_abs() < 1e-11


def test_cumsum_and_cholesky_past_broadcast_gate(spark, rng, monkeypatch):
    """Force the at-scale fallback branches (shuffle join instead of
    broadcast) by patching BROADCAST_CAP to zero — results must be
    identical to the broadcast path the small-input tests exercise.
    autoBroadcastJoinThreshold is disabled for the duration so the planner
    cannot silently re-broadcast the tiny un-hinted side (the point is to
    execute the at-scale SHUFFLE join)."""
    import wukong_spark.blockmatrix as bmod
    from wukong_spark.blockmatrix import cholesky_blocked

    monkeypatch.setattr(bmod, "BROADCAST_CAP", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _run_past_gate_checks(spark, rng, cholesky_blocked)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _run_past_gate_checks(spark, rng, cholesky_blocked):
    a = rng.standard_normal((40, 12))
    m = BlockMatrix.from_numpy(spark, a, 16, 6)
    cs = m.cumsum_rows()
    assert np.abs(cs.to_numpy() - np.cumsum(a, axis=0)).max() < 1e-12
    cs.release()

    idx = np.arange(100)
    spd = np.exp(-np.abs(idx[:, None] - idx[None, :]) / 10.0)
    ms = BlockMatrix.from_numpy(spark, spd, 25, 25)
    ms.df.persist()
    l = cholesky_blocked(ms)
    ln = l.to_numpy()
    ms.df.unpersist()
    assert np.abs(ln @ ln.T - spd).max() < 1e-9


def test_gen_block_has_one_call_site():
    """Seeded blocks are regenerated in exactly one place, the block
    resolver: every kernel reads one source, so no kernel can carry a
    seeded twin of its materialized loop."""
    import ast
    import inspect

    import wukong_spark.blockmatrix as bmod

    callers: list[str] = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                visit(child, scope + [child.name])
                continue
            if isinstance(child, ast.Name) and child.id == "_gen_block":
                callers.append(".".join(scope))
            visit(child, scope)

    visit(ast.parse(inspect.getsource(bmod)), [])
    assert callers == ["_Layout.resolve"]


def test_sketch_project_collects_per_block_column(spark, monkeypatch):
    """The fused sketch's Z = AᵀY partials reduce executor-side: on a tall
    seeded grid the driver receives grid_cols Z rows per pass, never one
    per block, and σ still matches the materialized path."""
    a = BlockMatrix.random(spark, 1280, 40, 20, 20, seed=29)  # 64×2 blocks
    # same blocks, fewer partitions: keeps the 128-block reference quick
    unfused = BlockMatrix(a.df.coalesce(4), a.n_rows, a.n_cols, 20, 20)
    _, s_u, _ = unfused.svd_compressed(k=3, seed=2, n_iter=1)
    log: list[tuple[tuple, int]] = []
    DataFrame = type(a.df)  # the concrete class (pyspark.sql.DataFrame is abstract)
    real = DataFrame.collect

    def counting(self):
        rows = real(self)
        log.append((tuple(self.columns), len(rows)))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting)
    u, s_f, _ = a.svd_compressed(k=3, seed=2, n_iter=1)
    monkeypatch.undo()
    u.release()
    z_rows = [nrows for cols, nrows in log if cols == ("bj", "z")]
    assert z_rows == [a.grid_cols, a.grid_cols]  # n_iter + 1 passes
    assert max(nrows for _, nrows in log) < a.grid_rows
    assert np.abs(np.asarray(s_f) - np.asarray(s_u)).max() < 1e-9


def test_zip_fused_matches_join(spark, rng):
    """subtract/add with one seed-generated side takes the in-task
    regeneration branch; it must match the join path exactly, in both
    argument orders (fn is not commutative for subtract)."""
    a = BlockMatrix.random(spark, 200, 90, 64, 32, seed=17)
    unfused_a = BlockMatrix(a.df, a.n_rows, a.n_cols, a.block_rows, a.block_cols)
    x = BlockMatrix.from_numpy(spark, rng.standard_normal((200, 90)), 64, 32)
    assert x.subtract(a).subtract(x.subtract(unfused_a)).max_abs() < 1e-13
    assert a.subtract(x).subtract(unfused_a.subtract(x)).max_abs() < 1e-13
    # both sides generated: still exact vs fully-materialized
    b = BlockMatrix.random(spark, 200, 90, 64, 32, seed=18)
    unfused_b = BlockMatrix(b.df, b.n_rows, b.n_cols, b.block_rows, b.block_cols)
    assert a.add(b).subtract(unfused_a.add(unfused_b)).max_abs() < 1e-13


def test_map_overlap_stencil_matches_numpy(spark, rng):
    """3-row zero-padded stencil via map_overlap(depth=1) equals the
    whole-matrix numpy computation — interior halo rows absorb the
    per-block zero-padding, edges keep the global zero-pad semantic."""
    a = rng.standard_normal((50, 21))
    m = BlockMatrix.from_numpy(spark, a, 16, 8)

    def stencil(x):
        z = np.zeros((1, x.shape[1]))
        up = np.vstack([z, x[:-1]])
        down = np.vstack([x[1:], z])
        return (x + up) + down

    got = m.map_overlap(stencil, depth=1).to_numpy()
    want = stencil(a)
    assert np.abs(got - want).max() == 0.0


def test_map_overlap_contract_errors(spark, rng):
    import pytest
    from pyspark.sql import functions as F

    a = BlockMatrix.from_numpy(spark, rng.standard_normal((32, 8)), 8, 8)
    # worker-side ValueErrors surface as PythonException — match message
    with pytest.raises(Exception, match="shape-preserving"):
        a.map_overlap(lambda x: x[:-1], depth=1).to_numpy()
    sparse = BlockMatrix(a.df.filter(F.col("bi") != 1), 32, 8, 8, 8)
    with pytest.raises(Exception, match="dense"):
        sparse.map_overlap(lambda x: x, depth=1).to_numpy()


def test_map_overlap_absent_neighbor_raises_even_if_unmaterialized(spark, rng):
    """ADVICE r6: a missing EDGE block (bi=0) must raise from its
    neighbor's assembly (missing top halo), not only when the absent
    block's own output position is read — otherwise a downstream
    projection excluding that position silently computes block 1 with a
    truncated halo."""
    import pytest
    from pyspark.sql import functions as F

    a = BlockMatrix.from_numpy(spark, rng.standard_normal((32, 8)), 8, 8)
    sparse = BlockMatrix(a.df.filter(F.col("bi") != 0), 32, 8, 8, 8)
    out = sparse.map_overlap(lambda x: x, depth=1)
    # read ONLY surviving positions (bi >= 2 — away from both the absent
    # block and its immediate neighbor): the guard must still fire
    with pytest.raises(Exception, match="halo"):
        out.df.filter(F.col("bi") >= 2).collect()


def test_map_overlap_cols_matches_numpy(spark, rng):
    """Axis-1 stencil (3-col zero-padded horizontal sum) through the
    transpose composition."""
    a = rng.standard_normal((40, 33))
    m = BlockMatrix.from_numpy(spark, a, 16, 8)

    def stencil(x):
        z = np.zeros((x.shape[0], 1))
        return (x + np.hstack([z, x[:, :-1]])) + np.hstack([x[:, 1:], z])

    got = m.map_overlap_cols(stencil, depth=1).to_numpy()
    assert np.abs(got - stencil(a)).max() == 0.0


def test_gen_parts_scales_with_cluster_parallelism(spark):
    """VERDICT r6 #4: generation-stage partition caps must derive from
    defaultParallelism (local floor 256), not encode the local[32] host —
    a 1,000-core cluster gets >= 2 waves of its own cores."""
    from types import SimpleNamespace

    from wukong_spark.blockmatrix import GEN_PART_CAP_FLOOR, _gen_parts

    def fake(par):
        return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=par))

    # small matrix: one partition per block regardless of cluster size
    assert _gen_parts(fake(32), 8) == 8
    assert _gen_parts(fake(1000), 8) == 8
    # big matrix, local host: capped at the floor (unchanged local tuning)
    assert _gen_parts(fake(32), 100_000) == GEN_PART_CAP_FLOOR
    # big matrix, big cluster: cap scales as 2x parallelism
    assert _gen_parts(fake(1000), 100_000) == 2000
    assert _gen_parts(fake(1000), 1500) == 1500  # nblk below the scaled cap
    # the real session's generation plan honors the helper
    m = BlockMatrix.random(spark, 64, 64, 8, 8, seed=3)  # 64 blocks
    assert m.df.rdd.getNumPartitions() == _gen_parts(spark, 64)


def test_npy_stack_roundtrip(spark, rng, tmp_path):
    """da.to_npy_stack / from_npy_stack parity: export to standard .npy
    files (readable by plain numpy), re-ingest distributed, bit-exact."""
    import os

    a = rng.standard_normal((50, 23))
    m = BlockMatrix.from_numpy(spark, a, 16, 8)
    path = str(tmp_path / "stack")
    m.to_npy_stack(path)
    # files are plain numpy-readable
    blk = np.load(os.path.join(path, "0_0.npy"))
    assert np.array_equal(blk, a[:16, :8])
    back = BlockMatrix.from_npy_stack(spark, path)
    assert (back.n_rows, back.n_cols, back.block_rows) == (50, 23, 16)
    assert np.array_equal(back.to_numpy(), a)
    # the re-ingested matrix composes with the operator surface
    assert np.allclose(back.transpose().to_numpy(), a.T)


def test_tsqr_check_matches_composition(spark, rng):
    """tsqr_check (r7, fused verify): same R and same error metrics as
    the tsqr + gramian + blockwise-residual composition, for both the
    seeded fast path and the unseeded fallback."""
    m = BlockMatrix.random(spark, 200, 8, 32, 8, seed=13)
    r, orth, recon = m.tsqr_check()
    q0, r0 = m.tsqr()
    qn, a = q0.to_numpy(), m.to_numpy()
    q0.release()
    assert np.allclose(r, r0, atol=1e-12)
    assert abs(orth - np.abs(qn.T @ qn - np.eye(8)).max()) < 1e-12
    assert abs(recon - np.abs(qn @ r0 - a).max()) < 1e-12
    assert orth < 1e-10 and recon < 1e-10
    # unseeded fallback (fused single-pass verify, r9): same contract
    mf = BlockMatrix.from_numpy(spark, rng.random((100, 5)), 32, 5)
    r2, o2, c2 = mf.tsqr_check()
    assert np.allclose(r2, np.triu(r2))
    assert o2 < 1e-10 and c2 < 1e-10
    # and on the SAME data as a seeded matrix the fallback must agree
    # with the seeded fast path (few-ulp: alignment-dependent BLAS)
    m2 = BlockMatrix.from_numpy(spark, m.to_numpy(), 32, 8)
    r3, o3, c3 = m2.tsqr_check()
    assert np.allclose(r3, r, atol=1e-12)
    assert abs(o3 - orth) < 1e-12 and abs(c3 - recon) < 1e-12


def test_lu_blocked_matches_numpy(spark, rng):
    """Unpivoted blocked LU (r17, da.linalg.lu parity): L·U reconstructs
    A, L is unit-lower, U upper — on a ragged grid with a diagonally
    dominant input (the unpivoted contract)."""
    from wukong_spark.blockmatrix import lu_blocked

    n, bs = 157, 48
    a = rng.standard_normal((n, n)) + n * np.eye(n)
    l_bm, u_bm = lu_blocked(BlockMatrix.from_numpy(spark, a, bs, bs))
    l, u = l_bm.to_numpy(), u_bm.to_numpy()
    assert np.allclose(l @ u, a, atol=1e-8 * n)
    assert np.allclose(np.triu(l, 1), 0) and np.allclose(np.diag(l), 1)
    assert np.allclose(np.tril(u, -1), 0)


def test_lu_solve_and_inv(spark, rng):
    from wukong_spark.blockmatrix import inv_blocked, lu_solve

    n, bs = 100, 32
    a = rng.standard_normal((n, n)) + n * np.eye(n)
    bm = BlockMatrix.from_numpy(spark, a, bs, bs)
    b = rng.standard_normal((n, 3))
    x = lu_solve(bm, b)
    assert np.allclose(a @ x, b, atol=1e-8 * n)
    inv = inv_blocked(bm)
    assert np.allclose(a @ inv, np.eye(n), atol=1e-8 * n)


def test_lu_blocked_rejects_zero_pivot(spark):
    from wukong_spark.blockmatrix import lu_blocked

    a = np.zeros((40, 40))
    a[0, 1] = 1.0
    a[1, 0] = 1.0  # nonsingular but leading 1x1 minor is zero
    a[np.arange(2, 40), np.arange(2, 40)] = 1.0
    with pytest.raises(np.linalg.LinAlgError, match="pivot|singular"):
        lu_blocked(BlockMatrix.from_numpy(spark, a, 16, 16))


def test_take_rows_and_compress_rows(spark, rng):
    """Fancy/boolean row indexing (r17, da slicing parity): arbitrary
    order, repeats, runs across ragged blocks."""
    a = rng.standard_normal((37, 11))
    bm = BlockMatrix.from_numpy(spark, a, 10, 4)
    idx = [5, 5, 30, 0, 1, 2, 36, 9, 10, 11]
    got = bm.take_rows(idx).to_numpy()
    assert np.array_equal(got, a[idx])
    mask = (np.arange(37) % 3 == 0) | (np.arange(37) > 30)
    got = bm.compress_rows(mask).to_numpy()
    assert np.array_equal(got, a[mask])
    with pytest.raises(IndexError):
        bm.take_rows([37])
    with pytest.raises(ValueError):
        bm.compress_rows(np.zeros(37, dtype=bool))


def test_concat_blocks_and_block_grid(spark, rng):
    """N-ary concatenate + da.block grid assembly (r17): one shuffle,
    bitwise-equal to the numpy composition, mixed blockings allowed."""
    from wukong_spark.blockmatrix import block_grid, concat_blocks

    a = rng.standard_normal((20, 8))
    b = rng.standard_normal((13, 8))
    c = rng.standard_normal((7, 8))
    bms = [
        BlockMatrix.from_numpy(spark, x, br, bc)
        for x, (br, bc) in zip((a, b, c), [(6, 8), (13, 3), (4, 5)])
    ]
    got = concat_blocks(bms, axis=0).to_numpy()
    assert np.array_equal(got, np.concatenate([a, b, c], axis=0))
    at = [x.T.copy() for x in (a, b, c)]
    bmt = [BlockMatrix.from_numpy(spark, x, 5, 7) for x in at]
    got = concat_blocks(bmt, axis=1).to_numpy()
    assert np.array_equal(got, np.concatenate(at, axis=1))

    tl = rng.standard_normal((9, 4))
    tr = rng.standard_normal((9, 6))
    bl = rng.standard_normal((5, 4))
    br_ = rng.standard_normal((5, 6))
    grid = [
        [BlockMatrix.from_numpy(spark, tl, 4, 4), BlockMatrix.from_numpy(spark, tr, 3, 3)],
        [BlockMatrix.from_numpy(spark, bl, 5, 2), BlockMatrix.from_numpy(spark, br_, 2, 6)],
    ]
    got = block_grid(grid).to_numpy()
    assert np.array_equal(got, np.block([[tl, tr], [bl, br_]]))
    with pytest.raises(ValueError, match="heights"):
        block_grid([[grid[0][0], grid[1][0]]])


def test_take_cols_and_compress_cols(spark, rng):
    a = rng.standard_normal((18, 23))
    bm = BlockMatrix.from_numpy(spark, a, 5, 7)
    idx = [22, 0, 0, 7, 8, 9, 14]
    assert np.array_equal(bm.take_cols(idx).to_numpy(), a[:, idx])
    mask = np.arange(23) % 2 == 1
    assert np.array_equal(bm.compress_cols(mask).to_numpy(), a[:, mask])
    with pytest.raises(ValueError):
        bm.compress_cols(np.zeros(23, dtype=bool))
