"""Sparse (COO) block support (SURVEY.md §2.2 B-II, sparse-arrays row).

Reference capability: converting a chunked dense array's blocks to
`sparse.COO` and reducing over the result —
`/root/reference/Static Scheduler/wukong/tests/test_collections.py:179-190`
(`x[x < 0.95] = 0; s = x.map_blocks(sparse.COO); c.compute(s.sum(axis=0)[:10])`)
— the one test_collections workload round 2 left without a mirror.

Spark-first design: a sparse matrix is a DataFrame of COO blocks
``(bi, bj, nnz, rows, cols, vals)`` — ``rows``/``cols`` are int32 index
buffers, ``vals`` the float64 nonzeros.  Conversion and reductions are
per-block mapInArrow (shuffle-free); ``nnz`` is a plain long column so
counting total nonzeros is a pure JVM aggregate that never touches the
value buffers.  At 100 TB the win over dense blocks is exactly the COO
win: shuffle/cache volume drops from O(rows·cols) to O(nnz) per block,
and reductions stream the nonzeros only.

The `sparse` pip package is NOT required (absent from this container):
COO layout is three parallel numpy arrays, which is all the reference's
workload exercises.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wukong_spark.blockmatrix import (
    BLOCK_SCHEMA,
    BlockMatrix,
    _grid,
    _pa_schema,
    _sum_partials,
)

SPARSE_SCHEMA = "bi int, bj int, nnz long, rows binary, cols binary, vals binary"


def _accum(rows: np.ndarray, cols: np.ndarray, vals: np.ndarray, width: int):
    """Sum the duplicate (row, col) cells of a COO triple, in input order
    (bincount over packed keys); cells come out sorted by (row, col)."""
    key = rows.astype(np.int64) * width + cols.astype(np.int64)
    uk, inv = np.unique(key, return_inverse=True)
    sums = np.bincount(inv, weights=vals)
    return (
        (uk // width).astype(np.int32),
        (uk % width).astype(np.int32),
        sums.astype(np.float64),
    )


def _spgemm_merge(t, width: int):
    """Merge one output block's partial COO products (an Arrow table of
    ``k, rows, cols, vals`` rows): concatenate them in ascending
    contraction index ``k`` and sum duplicate cells, so the result never
    depends on shuffle arrival order."""
    order = np.argsort(t.column("k").to_numpy(), kind="stable")
    cat = [
        np.concatenate([np.frombuffer(t.column(c)[i].as_buffer(), dt) for i in order])
        for c, dt in (("rows", np.int32), ("cols", np.int32), ("vals", np.float64))
    ]
    return _accum(*cat, width)


@dataclass
class SparseBlockMatrix:
    """Distributed sparse matrix of COO blocks (missing block ≡ all-zero)."""

    df: DataFrame
    n_rows: int
    n_cols: int
    block_rows: int
    block_cols: int

    @property
    def grid_rows(self) -> int:
        return _grid(self.n_rows, self.block_rows)

    @property
    def grid_cols(self) -> int:
        return _grid(self.n_cols, self.block_cols)

    # -- conversion (x.map_blocks(sparse.COO)) ----------------------------
    @staticmethod
    def from_dense(dense: BlockMatrix) -> "SparseBlockMatrix":
        """Blockwise dense→COO, the `map_blocks(sparse.COO)` mirror.
        Shuffle-free: each dense block maps to one COO block in place."""
        br, bc = dense.block_rows, dense.block_cols
        n, m = dense.n_rows, dense.n_cols

        def conv(batches) -> Iterator:
            import pyarrow as pa

            schema = _pa_schema(SPARSE_SCHEMA)
            for rb in batches:
                bi_c, bj_c, d_c = rb.column("bi"), rb.column("bj"), rb.column("data")
                out: dict[str, list] = {k: [] for k in ("bi", "bj", "nnz", "rows", "cols", "vals")}
                for i in range(rb.num_rows):
                    bi, bj = bi_c[i].as_py(), bj_c[i].as_py()
                    r = min(br, n - bi * br)
                    c = min(bc, m - bj * bc)
                    blk = np.frombuffer(d_c[i].as_buffer(), dtype=np.float64).reshape(r, c)
                    ri, ci = np.nonzero(blk)
                    out["bi"].append(bi)
                    out["bj"].append(bj)
                    out["nnz"].append(int(ri.size))
                    out["rows"].append(ri.astype(np.int32).tobytes())
                    out["cols"].append(ci.astype(np.int32).tobytes())
                    out["vals"].append(np.ascontiguousarray(blk[ri, ci]).tobytes())
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        return SparseBlockMatrix(dense.df.mapInArrow(conv, SPARSE_SCHEMA), n, m, br, bc)

    def to_dense(self) -> BlockMatrix:
        """Blockwise COO→dense (the `.todense()`/compute path)."""
        br, bc = self.block_rows, self.block_cols
        n, m = self.n_rows, self.n_cols

        def conv(batches) -> Iterator:
            import pyarrow as pa

            schema = pa.schema(
                [("bi", pa.int32()), ("bj", pa.int32()), ("data", pa.binary())]
            )
            for rb in batches:
                bi_c, bj_c = rb.column("bi"), rb.column("bj")
                r_c, c_c, v_c = rb.column("rows"), rb.column("cols"), rb.column("vals")
                out: dict[str, list] = {"bi": [], "bj": [], "data": []}
                for i in range(rb.num_rows):
                    bi, bj = bi_c[i].as_py(), bj_c[i].as_py()
                    r = min(br, n - bi * br)
                    c = min(bc, m - bj * bc)
                    blk = np.zeros((r, c))
                    ri = np.frombuffer(r_c[i].as_buffer(), dtype=np.int32)
                    ci = np.frombuffer(c_c[i].as_buffer(), dtype=np.int32)
                    blk[ri, ci] = np.frombuffer(v_c[i].as_buffer(), dtype=np.float64)
                    out["bi"].append(bi)
                    out["bj"].append(bj)
                    out["data"].append(blk.tobytes())
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        return BlockMatrix(self.df.mapInArrow(conv, BLOCK_SCHEMA), n, m, br, bc)

    # -- elementwise ------------------------------------------------------
    def map_values(self, fn: Callable[[np.ndarray], np.ndarray]) -> "SparseBlockMatrix":
        """Elementwise op over the STORED nonzeros (COO semantics: requires
        fn(0) = 0, same contract sparse.COO enforces for its ufuncs)."""

        def run(batches) -> Iterator:
            import pyarrow as pa

            schema = _pa_schema(SPARSE_SCHEMA)
            for rb in batches:
                cols = {k: rb.column(k) for k in ("bi", "bj", "nnz", "rows", "cols")}
                v_c = rb.column("vals")
                out: dict[str, list] = {k: [] for k in ("bi", "bj", "nnz", "rows", "cols", "vals")}
                for i in range(rb.num_rows):
                    for k, c in cols.items():
                        out[k].append(c[i].as_py())  # index buffers pass through
                    v = np.frombuffer(v_c[i].as_buffer(), dtype=np.float64)
                    out["vals"].append(np.ascontiguousarray(fn(v)).tobytes())
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        return SparseBlockMatrix(
            self.df.mapInArrow(run, SPARSE_SCHEMA),
            self.n_rows, self.n_cols, self.block_rows, self.block_cols,
        )

    # -- reductions -------------------------------------------------------
    def nnz(self) -> int:
        """Total stored nonzeros — a pure JVM aggregate over the nnz column
        (the value buffers are never deserialized)."""
        out = self.df.agg(F.sum("nnz")).collect()[0][0]
        return int(out or 0)

    def sum(self) -> float:
        """Grand sum of nonzeros: per-block partial + Spark agg."""

        def part(batches) -> Iterator:
            import pyarrow as pa

            for rb in batches:
                v_c = rb.column("vals")
                vals = [
                    float(np.frombuffer(v_c[i].as_buffer(), dtype=np.float64).sum())
                    for i in range(rb.num_rows)
                ]
                yield pa.RecordBatch.from_pydict(
                    {"s": vals}, schema=pa.schema([("s", pa.float64())])
                )

        out = self.df.mapInArrow(part, "s double").agg(F.sum("s")).collect()[0][0]
        return float(out or 0.0)

    def col_sums(self) -> np.ndarray:
        """Column sums (the reference workload's s.sum(axis=0)): per-block
        bincount over the nonzeros → merge per block column in ascending
        bi → driver assemble.  Cost is O(nnz), never O(rows·cols)."""
        bc, m, ddl = self.block_cols, self.n_cols, "bj int, k int, z binary"

        def part(batches) -> Iterator:
            import pyarrow as pa

            schema = _pa_schema(ddl)
            for rb in batches:
                bi_c, bj_c = rb.column("bi"), rb.column("bj")
                c_c, v_c = rb.column("cols"), rb.column("vals")
                out: dict[str, list] = {"bj": [], "k": [], "z": []}
                for i in range(rb.num_rows):
                    bj = bj_c[i].as_py()
                    c = min(bc, m - bj * bc)
                    ci = np.frombuffer(c_c[i].as_buffer(), dtype=np.int32)
                    v = np.frombuffer(v_c[i].as_buffer(), dtype=np.float64)
                    out["bj"].append(bj)
                    out["k"].append(bi_c[i].as_py())
                    out["z"].append(np.bincount(ci, weights=v, minlength=c).tobytes())
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        partials = self.df.mapInArrow(part, ddl)
        return _sum_partials(partials, m, bc, 1).ravel()

    # -- sparse × sparse matmul (SpGEMM) -----------------------------------
    def matmul(self, other: "SparseBlockMatrix") -> "SparseBlockMatrix":
        """Block SpGEMM: C = A·B over COO blocks (r11, VERDICT r10 #8 —
        the sparse surface's missing matmul).

        Block plan: C_ij = Σ_k A_ik·B_kj is ONE equi-join of the two COO
        block tables on the contraction index k, a per-pair numpy kernel
        producing a partial COO product, and a (bi, bj)-grouped
        accumulation in ascending k.  Block-level sparsity is exploited by
        the join itself — an all-zero block has no row, so the pair never
        materializes: work is O(nonzero block pairs), where the dense
        GEMM must replicate every block of both operands.

        In-block kernel: sort B's nonzeros by row once, match A's column
        index into it with searchsorted, expand the (a_nnz × matches)
        pair list, accumulate duplicate (i, j) cells via bincount over
        packed keys — O(nnz_a·log nnz_b + output flops), never
        O(rows·cols).

        100 TB path: shuffle volume is O(nnz of the partial products);
        the accumulate groups on (bi, bj) so each reducer holds one
        output block's nonzeros.  Explicit zeros from exact cancellation
        are kept (scipy semantics)."""
        assert self.n_cols == other.n_rows, "inner dimensions must agree"
        assert self.block_cols == other.block_rows, (
            "contraction blockings must align (rechunk first)"
        )
        out_bc = other.block_cols

        aa = self.df.select(
            F.col("bi").alias("obi"),
            F.col("bj").alias("k"),
            F.col("rows").alias("a_rows"),
            F.col("cols").alias("a_cols"),
            F.col("vals").alias("a_vals"),
        )
        bb = other.df.select(
            F.col("bi").alias("k"),
            F.col("bj").alias("obj"),
            F.col("rows").alias("b_rows"),
            F.col("cols").alias("b_cols"),
            F.col("vals").alias("b_vals"),
        )
        joined = aa.join(bb, "k")
        ddl = "bi int, bj int, k int, rows binary, cols binary, vals binary"

        def pair_products(batches) -> Iterator:
            import pyarrow as pa

            schema = _pa_schema(ddl)
            for rb in batches:
                cols_in = {n: rb.column(n) for n in rb.schema.names}
                out: dict[str, list] = {k: [] for k in schema.names}
                for i in range(rb.num_rows):
                    ra = np.frombuffer(cols_in["a_rows"][i].as_buffer(), np.int32)
                    ca = np.frombuffer(cols_in["a_cols"][i].as_buffer(), np.int32)
                    va = np.frombuffer(cols_in["a_vals"][i].as_buffer(), np.float64)
                    rb_ = np.frombuffer(cols_in["b_rows"][i].as_buffer(), np.int32)
                    cb_ = np.frombuffer(cols_in["b_cols"][i].as_buffer(), np.int32)
                    vb_ = np.frombuffer(cols_in["b_vals"][i].as_buffer(), np.float64)
                    order = np.argsort(rb_, kind="stable")
                    rb_s, cb_s, vb_s = rb_[order], cb_[order], vb_[order]
                    start = np.searchsorted(rb_s, ca, side="left")
                    end = np.searchsorted(rb_s, ca, side="right")
                    cnt = end - start
                    tot = int(cnt.sum())
                    if tot == 0:
                        continue
                    ai = np.repeat(np.arange(len(ra)), cnt)
                    offs = np.cumsum(cnt) - cnt
                    b_idx = np.repeat(start - offs, cnt) + np.arange(tot)
                    r_out, c_out, v_out = _accum(
                        ra[ai], cb_s[b_idx], va[ai] * vb_s[b_idx], out_bc
                    )
                    out["bi"].append(cols_in["obi"][i].as_py())
                    out["bj"].append(cols_in["obj"][i].as_py())
                    out["k"].append(cols_in["k"][i].as_py())
                    out["rows"].append(r_out.tobytes())
                    out["cols"].append(c_out.tobytes())
                    out["vals"].append(v_out.tobytes())
                if out["bi"]:
                    yield pa.RecordBatch.from_pydict(out, schema=schema)

        partials = joined.mapInArrow(pair_products, ddl)

        def merge(key, t):
            import pyarrow as pa

            r_out, c_out, v_out = _spgemm_merge(t, out_bc)
            out = {
                "bi": [key[0].as_py()],
                "bj": [key[1].as_py()],
                "nnz": [len(r_out)],
                "rows": [r_out.tobytes()],
                "cols": [c_out.tobytes()],
                "vals": [v_out.tobytes()],
            }
            return pa.Table.from_pydict(out, schema=_pa_schema(SPARSE_SCHEMA))

        cdf = partials.groupBy("bi", "bj").applyInArrow(merge, SPARSE_SCHEMA)
        return SparseBlockMatrix(
            cdf, self.n_rows, other.n_cols, self.block_rows, other.block_cols
        )
