"""Sparse COO block layer vs numpy oracles.

Mirrors the reference's test_sparse_arrays workload
(`/root/reference/Static Scheduler/wukong/tests/test_collections.py:179-190`):
threshold → map_blocks(COO) → axis-0 sum, plus roundtrip/elementwise/ragged
coverage the dense layer gets in test_blockmatrix.py.
"""

from __future__ import annotations

import numpy as np
import pytest

from wukong_spark.blockmatrix import BlockMatrix
from wukong_spark.sparse import SparseBlockMatrix


@pytest.fixture
def rng():
    return np.random.default_rng(7)


def _masked(rng, shape, thresh=0.95):
    a = rng.random(shape)
    return np.where(a < thresh, 0.0, a)


def test_roundtrip_exact(spark, rng):
    a = _masked(rng, (40, 30))
    bm = BlockMatrix.from_numpy(spark, a, 10, 10)
    s = SparseBlockMatrix.from_dense(bm)
    assert np.array_equal(s.to_dense().to_numpy(), a)


def test_nnz_and_sum(spark, rng):
    a = _masked(rng, (50, 20))
    s = SparseBlockMatrix.from_dense(BlockMatrix.from_numpy(spark, a, 10, 10))
    assert s.nnz() == int((a != 0).sum())
    assert abs(s.sum() - a.sum()) < 1e-9


def test_col_sums_reference_workload(spark, rng):
    """The reference's exact shape: (100, 10) in (10, 10) chunks,
    x[x < 0.95] = 0, sum(axis=0)[:10]."""
    a = _masked(rng, (100, 10))
    s = SparseBlockMatrix.from_dense(BlockMatrix.from_numpy(spark, a, 10, 10))
    got = s.col_sums()[:10]
    assert np.allclose(got, a.sum(axis=0)[:10], atol=1e-9)


def test_col_sums_ragged_edge_blocks(spark, rng):
    a = _masked(rng, (37, 23))
    s = SparseBlockMatrix.from_dense(BlockMatrix.from_numpy(spark, a, 10, 10))
    assert np.allclose(s.col_sums(), a.sum(axis=0), atol=1e-9)


def test_map_values(spark, rng):
    a = _masked(rng, (30, 30))
    s = SparseBlockMatrix.from_dense(BlockMatrix.from_numpy(spark, a, 10, 10))
    doubled = s.map_values(lambda v: v * 2.0)
    assert np.allclose(doubled.to_dense().to_numpy(), a * 2.0, atol=1e-12)
    assert doubled.nnz() == s.nnz()


def test_all_zero_block(spark):
    a = np.zeros((20, 20))
    a[0, 0] = 5.0  # one nonzero so only block (0,0) has entries
    s = SparseBlockMatrix.from_dense(BlockMatrix.from_numpy(spark, a, 10, 10))
    assert s.nnz() == 1
    assert np.array_equal(s.to_dense().to_numpy(), a)
    assert np.allclose(s.col_sums(), a.sum(axis=0), atol=1e-12)


def test_spgemm_matches_numpy_ragged(spark):
    """SpGEMM (r11): sparse COO block matmul equals the numpy dense
    product EXACTLY on integer-valued nonzeros (float64 integer sums are
    order-independent below 2^53), across ragged edge blocks."""
    import numpy as np

    from wukong_spark.blockmatrix import BlockMatrix
    from wukong_spark.sparse import SparseBlockMatrix

    rng = np.random.default_rng(5)
    A = np.where(
        rng.random((130, 97)) < 0.9, 0.0, np.floor(rng.random((130, 97)) * 9) + 1
    )
    B = np.where(
        rng.random((97, 81)) < 0.9, 0.0, np.floor(rng.random((97, 81)) * 9) + 1
    )
    sa = SparseBlockMatrix.from_dense(BlockMatrix.from_numpy(spark, A, 40, 32))
    sb = SparseBlockMatrix.from_dense(BlockMatrix.from_numpy(spark, B, 32, 25))
    got = sa.matmul(sb).to_dense().to_numpy()
    assert got.shape == (130, 81)
    assert (got == A @ B).all()


def test_spgemm_empty_blocks_and_shape_guard(spark):
    """SpGEMM: all-zero block pairs never materialize (the join prunes
    them) and the result is still correct; mismatched inner blockings
    are rejected."""
    import numpy as np
    import pytest

    from wukong_spark.blockmatrix import BlockMatrix
    from wukong_spark.sparse import SparseBlockMatrix

    A = np.zeros((60, 60))
    A[:20, :20] = np.eye(20) * 3  # only block (0,0) nonzero
    B = np.zeros((60, 40))
    B[:20, :20] = np.eye(20) * 5
    sa = SparseBlockMatrix.from_dense(BlockMatrix.from_numpy(spark, A, 20, 20))
    sb = SparseBlockMatrix.from_dense(BlockMatrix.from_numpy(spark, B, 20, 20))
    c = sa.matmul(sb)
    # only ONE output block can exist: the (0,0) product
    assert c.df.count() == 1
    got = c.to_dense().to_numpy()
    assert (got == A @ B).all()

    wrong = SparseBlockMatrix.from_dense(BlockMatrix.from_numpy(spark, B, 30, 20))
    with pytest.raises(AssertionError):
        sa.matmul(wrong)


def test_spgemm_zero_operand(spark):
    """A structurally-zero operand (no COO blocks at all) yields a
    result with no blocks, and to_dense is exact zeros."""
    import numpy as np

    from wukong_spark.blockmatrix import BlockMatrix
    from wukong_spark.sparse import SparseBlockMatrix

    A = np.zeros((40, 40))
    B = np.eye(40) * 2.0
    sa = SparseBlockMatrix.from_dense(BlockMatrix.from_numpy(spark, A, 20, 20))
    sb = SparseBlockMatrix.from_dense(BlockMatrix.from_numpy(spark, B, 20, 20))
    c = sa.matmul(sb)
    assert c.df.count() == 0
    assert (c.to_dense().to_numpy() == 0).all()


def test_key_ordered_merges_ignore_arrival_order():
    """The grouped merges add partials in key order, so every arrival order
    of the same partials gives bitwise-equal output.  Spark-free: the
    per-group functions take the Arrow table a reducer receives, and the
    partials (1e16, 1, −1e16) make a float sum order-sensitive."""
    import itertools

    import pyarrow as pa

    from wukong_spark.blockmatrix import _ordered_sum
    from wukong_spark.sparse import _spgemm_merge

    parts = {0: [1e16, 3.0], 1: [1.0, 1e-3], 2: [-1e16, 7.0]}  # k -> partial
    sums, naive, spgemm = set(), set(), set()
    for perm in itertools.permutations(parts):
        vals = [np.array(parts[k]) for k in perm]
        keys = pa.array(perm, pa.int32())
        t = pa.table({"k": keys, "p": [v.tobytes() for v in vals]})
        sums.add(_ordered_sum(t, "k", "p"))
        naive.add(sum(vals[1:], vals[0].copy()).tobytes())
        # the same partials as COO products: cells (0, 0) and (1, 2)
        coo = pa.table(
            {
                "k": keys,
                "rows": [np.array([0, 1], np.int32).tobytes()] * 3,
                "cols": [np.array([0, 2], np.int32).tobytes()] * 3,
                "vals": [v.tobytes() for v in vals],
            }
        )
        spgemm.add(b"".join(a.tobytes() for a in _spgemm_merge(coo, 4)))
    assert len(naive) > 1  # arrival order would change the last bits
    assert len(sums) == 1 and len(spgemm) == 1
    assert np.frombuffer(sums.pop()).tolist() == [0.0, 10.001]


def test_block_layer_imports_no_pandas():
    """The block layer's kernels are Arrow-only: importing it (sparse
    imports blockmatrix) in a fresh interpreter leaves pandas unloaded."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = "import sys, wukong_spark.sparse; print('pandas' in sys.modules)"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True,
        timeout=120, check=True,
    )
    assert out.stdout.strip() == "False"
