"""Block-matrix linear algebra layer (SURVEY.md §2.2 B-II).

The reference's flagship workloads are chunked-ndarray jobs executed as Dask
graphs: random block generation (`/root/reference/README.md:220,243,265`),
GEMM (`README.md:250-271`), tall-skinny SVD (`README.md:204-225`),
compressed/randomized SVD (`README.md:227-248`,
`Static Scheduler/examples/svd2.py:44-45`), QR/TSQR
(`docs/examples/examples.rst:62-82`), Cholesky
(`docs/examples/examples.rst:84-100`), elementwise/transpose/reductions
(`Static Scheduler/wukong/tests/test_collections.py:90-95`).

Spark-first design (NOT a translation of Dask's task graphs):

- A distributed matrix is a DataFrame of blocks
  ``(bi int, bj int, data binary)`` — ``data`` is the row-major float64
  buffer of block (bi, bj).  Binary payloads move through Arrow batches;
  per-block math is numpy inside ``mapInArrow`` and, where a shuffle
  gathers one output's inputs, grouped ``applyInArrow`` (the sanctioned
  Python escape hatch — per-element Column math would be absurd here,
  per-block BLAS is the right granularity).  No kernel builds a pandas
  frame.
- Block generation is *deterministic per block id* regardless of
  partitioning or executor count (`np.random.Generator(PCG64(seed + bid))`),
  mirroring how dask seeds chunked RandomState.
- ONE block source: every kernel reads ``_source(bm)`` — ``bm.df`` for a
  materialized matrix, or, for a seed-generated one, ``(bi, bj, data)``
  KEY rows from ``spark.range`` with ``data`` NULL — and turns each Arrow
  row into an ndarray through the one resolver ``_Layout.resolve``: a
  payload becomes a zero-copy buffer view, a NULL regenerates the block
  from (seed, block id) inside the consuming task.  Each kernel is written
  once; seeded inputs fuse generation into their consumers by
  construction (dask's blockwise fusion of ``da.random``), so their
  payloads never cross the JVM↔Python boundary.
- GEMM is the classic SUMMA join: A ⋈ B on the contraction index, per-pair
  ``np.dot`` partials, shuffle to (bi, bj), in-order accumulation →
  deterministic bitwise-stable sums.
- Reductions that produce *small* results (Gramian, R factors, singular
  values) land on the driver — everything O(matrix) stays distributed.
- Cholesky and unpivoted LU are ONE right-looking loop,
  ``_factor_right_looking``: per block column, the driver factors the
  diagonal block, mapInArrow solves the panels, and the trailing update
  reads the panels from a broadcast under ``BROADCAST_CAP`` or through an
  equi-join past it.  Cholesky is that loop on the lower triangle with no
  row panel.  The loop owns its checkpoints and broadcasts and frees them
  on every exit, a raise included.

Scale notes: at 100 TB the same plans hold — the only driver-side
materializations are c×c / (k+p)×m factors.  Shuffle volume for GEMM is
one partial block per (i,k,j) triple, the textbook lower bound without
3D-replication tricks.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StructField,
    StructType,
)

from wukong_spark.session import Checkpoints

BLOCK_SCHEMA = StructType(
    [
        StructField("bi", IntegerType(), False),
        StructField("bj", IntegerType(), False),
        StructField("data", BinaryType(), False),
    ]
)


def _gen_block(seed: int, bid: int, r: int, c: int) -> "np.ndarray":
    """THE canonical seeded block generator, called only by the block
    resolver (:meth:`_Layout.resolve`) — so :meth:`BlockMatrix.random`'s
    payloads and every kernel that reads a seeded source regenerate the
    same bits, and no inlined copy can drift.  bid = bi * grid_cols + bj.

    The fill is CHUNKED through the generator (bitwise identical to a
    one-shot ``rng.random((r, c))`` — the PCG64 double stream is
    sequential, so call boundaries don't change the values): a one-shot
    fill of a multi-MB block makes glibc mmap a fresh buffer whose
    first-touch faults dominate generation on slow-fault hosts
    (_alloc.py; measured 1-22 s vs 0.06 s for a 50 MB block), while
    4 MB chunks come from reused arena memory and the calloc'd
    destination takes streaming writes."""
    n = r * c
    step = 1 << 19  # 512k doubles = 4 MB per chunk
    if n <= step:
        return np.random.default_rng(seed + bid).random((r, c))
    rng = np.random.default_rng(seed + bid)
    out = np.zeros(n)
    for i in range(0, n, step):
        m = min(step, n - i)
        out[i : i + m] = rng.random(m)
    return out.reshape(r, c)


def _grid(n: int, bs: int) -> int:
    return (n + bs - 1) // bs


_TRIU_CACHE: dict[int, tuple] = {}


def _triu(c: int):
    """Cached np.triu_indices(c) — one gather index pair per worker
    process (8·c(c+1) bytes at c=1000 ≈ 8 MB, reused across every
    gramian partial the worker emits)."""
    ix = _TRIU_CACHE.get(c)
    if ix is None:
        ix = np.triu_indices(c)
        _TRIU_CACHE[c] = ix
    return ix


def _pa_block_schema(pa):
    """Arrow schema matching BLOCK_SCHEMA — built inside worker closures
    (mapInArrow outputs must carry exact int32 types; from_pydict would
    otherwise infer int64 and the JVM reader rejects the column)."""
    return pa.schema([("bi", pa.int32()), ("bj", pa.int32()), ("data", pa.binary())])


def _pa_schema(ddl: str):
    """Arrow schema of a flat DDL string such as ``"bj int, z binary"`` —
    the exact types an Arrow kernel's output must carry (the JVM reader
    and the grouped-map result check reject an inferred int64 for
    ``int``), so each kernel states its output schema once."""
    import pyarrow as pa

    types = {
        "int": pa.int32(), "long": pa.int64(), "double": pa.float64(),
        "binary": pa.binary(), "boolean": pa.bool_(),
    }
    return pa.schema([(n, types[t]) for n, t in (c.split() for c in ddl.split(","))])


#: above this many block rows, TSQR merges R factors through a distributed
#: tree level before the driver sees them.  This is a tree ARITY bound
#: (driver memory holds grid_rows/fanout c×c R2s), not a host-parallelism
#: constant — the merge level's task count is grid_rows/fanout, which grows
#: with the data, so it needs no defaultParallelism scaling.
TSQR_TREE_FANOUT = 32

#: at or below this many gramian task partials the driver collects them
#: directly (1-stage plan, ≤ 64·c² doubles of driver traffic); above it
#: the depth-2 tree merge bounds every reducer at ~√(n_partials)·c²
GRAMIAN_DIRECT_PARTS = 64

#: floor for the generation-stage partition cap (see _gen_parts) — the
#: local[32] value; kept as a floor so small-host behavior is unchanged
GEN_PART_CAP_FLOOR = 256


def _gen_parts(spark, nblk: int) -> int:
    """Partition count for seeded generation stages (spark.range →
    mapInArrow): one partition per block up to a cap, so tiny matrices
    don't schedule thousands of near-empty tasks.  The cap scales with the
    cluster — max(GEN_PART_CAP_FLOOR, 2·defaultParallelism) — so a
    1,000-core deployment runs generation at ≥2 waves of its own cores
    instead of being pinned to the local[32] tuning (VERDICT r6 #4)."""
    par = spark.sparkContext.defaultParallelism
    return max(1, min(nblk, max(GEN_PART_CAP_FLOOR, 2 * par)))


@dataclass(frozen=True)
class _Layout:
    """Block geometry (and generation seed) of one matrix — the picklable
    part of a BlockMatrix that executor closures capture."""

    n: int
    m: int
    br: int
    bc: int
    seed: int | None = None

    def shape(self, bi: int, bj: int) -> tuple[int, int]:
        return min(self.br, self.n - bi * self.br), min(self.bc, self.m - bj * self.bc)

    def resolve(self, cell, bi: int, bj: int) -> np.ndarray:
        """THE block resolver: an Arrow binary cell → block (bi, bj) as an
        ndarray — a zero-copy view of a payload, or, for a NULL (or None)
        cell of a seeded source, the block regenerated from (seed, bid)."""
        r, c = self.shape(bi, bj)
        if cell is not None and cell.is_valid:
            return np.frombuffer(cell.as_buffer(), dtype=np.float64).reshape(r, c)
        return _gen_block(self.seed, bi * _grid(self.m, self.bc) + bj, r, c)

    def blocks(self, rb) -> Iterator:
        """(bi, bj, block) for each row of an Arrow batch, in row order."""
        bi_c, bj_c, d_c = rb.column("bi"), rb.column("bj"), rb.column("data")
        for i in range(rb.num_rows):
            bi, bj = bi_c[i].as_py(), bj_c[i].as_py()
            yield bi, bj, self.resolve(d_c[i], bi, bj)


def _key_rows(spark, gr: int, gc: int) -> DataFrame:
    """``(bi, bj, data)`` rows of a gr×gc grid with ``data`` NULL — the
    source of a seeded matrix, one partition per block up to _gen_parts."""
    nblk = gr * gc
    return spark.range(0, nblk, 1, _gen_parts(spark, nblk)).select(
        (F.col("id") / gc).cast("int").alias("bi"),
        (F.col("id") % gc).cast("int").alias("bj"),
        F.lit(None).cast("binary").alias("data"),
    )


def _source(bm: "BlockMatrix") -> DataFrame:
    """THE block source every kernel reads: ``bm.df``, or key rows for a
    seed-generated matrix, whose blocks the resolver regenerates inside
    the consuming task (the O(matrix) payloads are never shipped)."""
    if bm.gen_seed is None:
        return bm.df
    return _key_rows(bm.df.sparkSession, bm.grid_rows, bm.grid_cols)


def _blockwise(src: DataFrame, g: _Layout, fn) -> DataFrame:
    """The one Arrow loop of every blockwise map: ``fn(bi, bj, block)``
    returns ``(out_bi, out_bj, out_block)`` for each source block."""

    def run(batches) -> Iterator:
        import pyarrow as pa

        schema = _pa_block_schema(pa)
        for rb in batches:
            out: dict[str, list] = {"bi": [], "bj": [], "data": []}
            for bi, bj, blk in g.blocks(rb):
                obi, obj, res = fn(bi, bj, blk)
                out["bi"].append(obi)
                out["bj"].append(obj)
                out["data"].append(np.ascontiguousarray(res).tobytes())
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    return src.mapInArrow(run, BLOCK_SCHEMA)


def _piece_rows(src: DataFrame, g: _Layout, pieces) -> DataFrame:
    """Map side of every re-blocking: ``pieces(bi, bj, block)`` yields
    ``(obi, obj, r0, c0, piece)`` — destination block, in-block offset and
    a sub-array — for each source block; rows carry the piece's extent and
    bytes for :meth:`BlockMatrix._stitch_pieces`."""

    def run(batches) -> Iterator:
        import pyarrow as pa

        ints = ["obi", "obj", "r0", "c0", "nr", "nc"]
        schema = pa.schema([(k, pa.int32()) for k in ints] + [("p", pa.binary())])
        for rb in batches:
            out: dict[str, list] = {k: [] for k in schema.names}
            for bi, bj, blk in g.blocks(rb):
                for obi, obj, r0, c0, piece in pieces(bi, bj, blk):
                    row = (obi, obj, r0, c0, *piece.shape)
                    for k, v in zip(ints, row):
                        out[k].append(v)
                    out["p"].append(np.ascontiguousarray(piece).tobytes())
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    return src.mapInArrow(
        run, "obi int, obj int, r0 int, c0 int, nr int, nc int, p binary"
    )


def _ordered_sum(t, order: str, col: str) -> bytes:
    """Copy-then-add one group's ``col`` partials (an Arrow table) in
    ascending ``order`` — the accumulation order every partial-sum merge
    shares, so a sum never depends on shuffle arrival order (a retried or
    re-fetched task adds the same doubles in the same order) and fused and
    materialized paths agree."""
    parts = t.column(col)
    total = None
    for i in np.argsort(t.column(order).to_numpy(), kind="stable"):
        b = np.frombuffer(parts[i].as_buffer(), dtype=np.float64)
        total = b.copy() if total is None else total + b
    return total.tobytes()


def _sum_by_key(partials: DataFrame, key: str, order: str, col: str) -> DataFrame:
    """THE block-partial merge: one ``(key, col)`` row per ``key``, whose
    float64 ``col`` partials are summed by :func:`_ordered_sum`.  Each
    partial reaches the reducer as its own Arrow row; a ``collect_list``
    cell would hold the whole group, and a large gramian group outgrows
    the JVM Arrow reader's per-cell ceiling."""
    ddl = f"{key} int, {col} binary"

    def merge(k, t):
        import pyarrow as pa

        out = {key: [k[0].as_py()], col: [_ordered_sum(t, order, col)]}
        return pa.Table.from_pydict(out, schema=_pa_schema(ddl))

    return partials.groupBy(key).applyInArrow(merge, ddl)


def _sum_partials(partials: DataFrame, m: int, bc: int, p: int) -> np.ndarray:
    """Reduce ``(bj, k, z)`` partials — c×p slices of an m×p result, or
    length-c slices of a length-m vector for p=1 — executor-side per bj in
    ascending k (:func:`_sum_by_key`); the driver receives one row per
    block column and stitches the result."""
    out = np.zeros((m, p))
    for row in _sum_by_key(partials, "bj", "k", "z").collect():
        c = min(bc, m - row.bj * bc)
        out[row.bj * bc : row.bj * bc + c, :] = np.frombuffer(row.z).reshape(c, p)
    return out


def _block_table(bi: int, bj: int, blk: np.ndarray):
    """One-row BLOCK_SCHEMA Arrow table: the result of a grouped kernel
    that assembles one output block."""
    import pyarrow as pa

    return pa.Table.from_pydict(
        {"bi": [bi], "bj": [bj], "data": [np.ascontiguousarray(blk).tobytes()]},
        schema=_pa_block_schema(pa),
    )


def _stack_qr(pieces, c: int, canonical: bool = True):
    """QR of the key-ordered vertical stack of R pieces ``(key, bytes)`` —
    the merge of every TSQR level.  ``canonical`` flips signs so diag(R) ≥
    0 (and the matching Q columns).  Returns ({key: Q rows}, R)."""
    pieces = sorted(pieces, key=lambda kv: kv[0])
    stack = [np.frombuffer(b).reshape(-1, c) for _, b in pieces]
    q, r = np.linalg.qr(np.vstack(stack), mode="reduced")
    if canonical:
        signs = np.sign(np.diag(r))
        signs[signs == 0] = 1.0
        r, q = r * signs[:, None], q * signs[None, :]
    slices, off = {}, 0
    for (key, _), s in zip(pieces, stack):
        slices[key] = q[off : off + s.shape[0], :]
        off += s.shape[0]
    return slices, r


#: per-tile buffer cap for GEMM output tiles (accumulator + stitched
#: k-superchunk operands each stay under this)
GEMM_TILE_MEM_CAP = 256 * 1024 * 1024

#: largest driver-side/broadcast payload the size-gated operators accept
#: before falling back to their shuffle-join path (cumsum offsets,
#: cholesky panel, transpose_matvec's Y).  Module-level so tests can
#: patch it down and exercise the at-scale fallback branches on small
#: inputs.
BROADCAST_CAP = 256 * 1024 * 1024


def _gemm_tile_factor(gi: int, gj: int, br: int, bc: int, parallelism: int) -> int:
    """Largest tile factor f whose (grid/f)² output tiles still cover ~¾ of
    the cluster's cores and whose per-tile accumulator stays under the
    memory cap.  Shuffle volume scales as 1/f (each side replicates
    grid/f times), so bigger tiles are strictly better until either tasks
    start idling or tile buffers outgrow executor memory."""
    f = 1
    while True:
        nf = f + 1
        tiles = ((gi + nf - 1) // nf) * ((gj + nf - 1) // nf)
        if tiles < max(1, (3 * parallelism) // 4):
            break
        if (nf * br) * (nf * bc) * 8 > GEMM_TILE_MEM_CAP:
            break
        f = nf
    return f

#: widest matrix (total columns) that general qr() factors by horizontally
#: re-blocking to ONE block column + TSQR (a bs×m block stays comfortably
#: in executor memory up to here); wider inputs take the CGS2 panel loop
QR_SINGLE_PANEL_MAX = 4096

@dataclass
class BlockMatrix:
    """Distributed dense matrix of float64 blocks.

    ``df`` columns: bi, bj, data (row-major float64 bytes of the block).
    Edge blocks are short (shape inferred from global dims).
    """

    df: DataFrame
    n_rows: int
    n_cols: int
    block_rows: int
    block_cols: int
    #: set ONLY by :meth:`random` — blocks are a pure function of
    #: (gen_seed, bi, bj), so :func:`_source` serves key rows and every
    #: kernel regenerates blocks in-task instead of shipping the payloads
    #: (dask's blockwise fusion of ``da.random`` into consumers).  Any
    #: transformation constructs a new BlockMatrix without it, so the
    #: fusion can never observe stale data.
    gen_seed: int | None = None

    # -- geometry ---------------------------------------------------------
    @property
    def grid_rows(self) -> int:
        return _grid(self.n_rows, self.block_rows)

    @property
    def grid_cols(self) -> int:
        return _grid(self.n_cols, self.block_cols)

    @property
    def layout(self) -> _Layout:
        return _Layout(
            self.n_rows, self.n_cols, self.block_rows, self.block_cols, self.gen_seed
        )

    def block_shape(self, bi: int, bj: int) -> tuple[int, int]:
        return self.layout.shape(bi, bj)

    # -- constructors -----------------------------------------------------
    @staticmethod
    def random(
        spark: SparkSession,
        n_rows: int,
        n_cols: int,
        block_rows: int,
        block_cols: int,
        seed: int = 0,
    ) -> "BlockMatrix":
        """Seeded random matrix ≈ da.random.random((n, m), chunks=(br, bc)).

        Deterministic per block id — independent of partitioning, executor
        count, and scheduling order, so results are reproducible on any
        cluster size (the property dask gets from chunked RandomState).

        ``df`` materializes the payloads (the identity map over the key
        rows); kernels read the key rows themselves (:func:`_source`).
        """
        g = _Layout(n_rows, n_cols, block_rows, block_cols, seed)
        keys = _key_rows(spark, _grid(n_rows, block_rows), _grid(n_cols, block_cols))
        df = _blockwise(keys, g, lambda bi, bj, blk: (bi, bj, blk))
        return BlockMatrix(df, n_rows, n_cols, block_rows, block_cols, gen_seed=seed)

    @staticmethod
    def from_numpy(
        spark: SparkSession, a: np.ndarray, block_rows: int, block_cols: int
    ) -> "BlockMatrix":
        n, m = a.shape
        rows = []
        for bi in range(_grid(n, block_rows)):
            for bj in range(_grid(m, block_cols)):
                blk = a[
                    bi * block_rows : (bi + 1) * block_rows,
                    bj * block_cols : (bj + 1) * block_cols,
                ]
                rows.append((bi, bj, np.ascontiguousarray(blk, dtype=np.float64).tobytes()))
        # one partition per block, capped at the cluster's parallelism
        # (r18, guide §2/VERDICT r17 #7): the createDataFrame default
        # slices a 16-block matrix into defaultParallelism (32+) pieces,
        # and every downstream checkpoint/mapInArrow stage inherits that
        # width — mostly-EMPTY tasks that each still pay a scheduling +
        # Python-worker round trip (measured dominant for the small-grid
        # factorization loops on the bench host).  At scale n_blocks ≫
        # cores, so the cap leaves cluster behavior unchanged.
        dp = spark.sparkContext.defaultParallelism
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, max(1, min(len(rows), dp))),
            BLOCK_SCHEMA,
        )
        return BlockMatrix(df, n, m, block_rows, block_cols)

    def to_numpy(self) -> np.ndarray:
        """Driver-side reassembly — tests/small results only."""
        out = np.zeros((self.n_rows, self.n_cols))
        for row in self.df.collect():
            r, c = self.block_shape(row.bi, row.bj)
            out[
                row.bi * self.block_rows : row.bi * self.block_rows + r,
                row.bj * self.block_cols : row.bj * self.block_cols + c,
            ] = np.frombuffer(row.data).reshape(r, c)
        return out

    # -- npy-stack storage (da.from_npy_stack / da.to_npy_stack parity) ----
    def to_npy_stack(self, path: str) -> None:
        """Persist as a directory of standard ``.npy`` files — one
        ``{bi}_{bj}.npy`` per block plus ``info.json`` with the dims —
        dask's ``da.to_npy_stack`` layout generalized to 2-D grids.

        Blocks stream through the driver one at a time (toLocalIterator,
        O(one block) memory) because ``path`` is a plain local/posix
        directory — the numpy-interop EXPORT path.  At cluster scale,
        parquet block storage (``df.write``) is the native format; this
        exists so plain numpy / dask code can read the result."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        for row in self.df.toLocalIterator():
            r, c = self.block_shape(row.bi, row.bj)
            np.save(
                os.path.join(path, f"{row.bi}_{row.bj}.npy"),
                np.frombuffer(row.data).reshape(r, c),
            )
        with open(os.path.join(path, "info.json"), "w") as f:
            json.dump(
                {
                    "n_rows": self.n_rows,
                    "n_cols": self.n_cols,
                    "block_rows": self.block_rows,
                    "block_cols": self.block_cols,
                },
                f,
            )

    @staticmethod
    def from_npy_stack(spark: SparkSession, path: str) -> "BlockMatrix":
        """Load a :meth:`to_npy_stack` directory (or any ``{bi}_{bj}.npy``
        grid + ``info.json``) as a BlockMatrix.

        DISTRIBUTED read: Spark's ``binaryFile`` source lists and reads
        the ``.npy`` payloads across executors; each file parses with
        ``np.load`` inside ``mapInArrow`` — no driver materialization, so
        the ingest side scales with the cluster even though the export
        side above is a driver stream."""
        import io as _io
        import json
        import os
        import re

        with open(os.path.join(path, "info.json")) as f:
            info = json.load(f)

        def parse(batches) -> Iterator:
            import pyarrow as pa

            schema = _pa_block_schema(pa)
            pat = re.compile(r"(\d+)_(\d+)\.npy$")
            for rb in batches:
                p_c, d_c = rb.column("path"), rb.column("content")
                out: dict[str, list] = {"bi": [], "bj": [], "data": []}
                for i in range(rb.num_rows):
                    m = pat.search(p_c[i].as_py())
                    if not m:
                        continue
                    arr = np.load(_io.BytesIO(d_c[i].as_py()))
                    out["bi"].append(int(m.group(1)))
                    out["bj"].append(int(m.group(2)))
                    out["data"].append(
                        np.ascontiguousarray(arr, dtype=np.float64).tobytes()
                    )
                if out["bi"]:
                    yield pa.RecordBatch.from_pydict(out, schema=schema)

        df = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.npy")
            .load(path)
            .select("path", "content")
            .mapInArrow(parse, BLOCK_SCHEMA)
        )
        return BlockMatrix(
            df,
            info["n_rows"],
            info["n_cols"],
            info["block_rows"],
            info["block_cols"],
        )

    # -- elementwise ------------------------------------------------------
    def _blockwise(self, fn, n: int, m: int, br: int, bc: int) -> "BlockMatrix":
        """Blockwise map over this matrix's source (see :func:`_blockwise`)
        into an n×m matrix blocked br×bc."""
        return BlockMatrix(_blockwise(_source(self), self.layout, fn), n, m, br, bc)

    def _map_blocks(
        self, fn: Callable[[np.ndarray], np.ndarray], out_cols: int | None = None
    ) -> "BlockMatrix":
        """Blockwise map.  ``out_cols`` declares a column-count change
        (e.g. projecting p→k columns); requires a one-block-wide matrix."""
        if out_cols is not None:
            assert self.grid_cols == 1, "out_cols only for one-block-wide matrices"
        m = self.n_cols if out_cols is None else out_cols
        bc = self.block_cols if out_cols is None else out_cols
        return self._blockwise(
            lambda bi, bj, blk: (bi, bj, fn(blk)), self.n_rows, m, self.block_rows, bc
        )

    def scale(self, alpha: float) -> "BlockMatrix":
        return self._map_blocks(lambda b: b * alpha)

    def map_elementwise(self, fn: Callable[[np.ndarray], np.ndarray]) -> "BlockMatrix":
        """x.map_blocks-style elementwise op (shape-preserving)."""
        return self._map_blocks(fn)

    def _zip_blocks(
        self, other: "BlockMatrix", fn: Callable[[np.ndarray, np.ndarray], np.ndarray]
    ) -> "BlockMatrix":
        assert (self.n_rows, self.n_cols) == (other.n_rows, other.n_cols)
        assert (self.block_rows, self.block_cols) == (other.block_rows, other.block_cols)
        ga, gb = self.layout, other.layout
        if self.gen_seed is None and other.gen_seed is None:
            pairs = self.df.alias("a").join(
                other.df.alias("b"),
                (F.col("a.bi") == F.col("b.bi")) & (F.col("a.bj") == F.col("b.bj")),
            ).select(
                F.col("a.bi").alias("bi"),
                F.col("a.bj").alias("bj"),
                F.col("a.data").alias("data"),
                F.col("b.data").alias("db"),
            )
        else:
            # a seeded side has every block of the grid and resolves from a
            # NULL cell, so no join: scan the other side's source (key rows
            # when both are seeded) — the residual checks (X − A for
            # generated A) lose their only shuffle
            scan = other if self.gen_seed is not None else self
            null = F.lit(None).cast("binary")
            pairs = _source(scan).select(
                "bi",
                "bj",
                (F.col("data") if scan is self else null).alias("data"),
                (F.col("data") if scan is other else null).alias("db"),
            )

        def run(batches) -> Iterator:
            import pyarrow as pa

            schema = _pa_block_schema(pa)
            for rb in batches:
                db_c = rb.column("db")
                out: dict[str, list] = {"bi": [], "bj": [], "data": []}
                for i, (bi, bj, x) in enumerate(ga.blocks(rb)):
                    y = gb.resolve(db_c[i], bi, bj)
                    out["bi"].append(bi)
                    out["bj"].append(bj)
                    out["data"].append(np.ascontiguousarray(fn(x, y)).tobytes())
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        return BlockMatrix(
            pairs.mapInArrow(run, BLOCK_SCHEMA),
            self.n_rows, self.n_cols, self.block_rows, self.block_cols,
        )

    def add(self, other: "BlockMatrix") -> "BlockMatrix":
        return self._zip_blocks(other, np.add)

    def subtract(self, other: "BlockMatrix") -> "BlockMatrix":
        return self._zip_blocks(other, np.subtract)

    def multiply(self, other: "BlockMatrix") -> "BlockMatrix":
        """Hadamard (elementwise) product."""
        return self._zip_blocks(other, np.multiply)

    def transpose(self) -> "BlockMatrix":
        return self._blockwise(
            lambda bi, bj, blk: (bj, bi, blk.T),
            self.n_cols, self.n_rows, self.block_cols, self.block_rows,
        )

    # -- reductions -------------------------------------------------------
    def _reduce_blocks(self, stat: Callable[[np.ndarray], float], agg):
        """One float per block (``stat``), combined by a Spark aggregate."""
        g = self.layout

        def part(batches) -> Iterator:
            import pyarrow as pa

            schema = pa.schema([("v", pa.float64())])
            for rb in batches:
                vals = [float(stat(blk)) for _, _, blk in g.blocks(rb)]
                yield pa.RecordBatch.from_pydict({"v": vals}, schema=schema)

        return _source(self).mapInArrow(part, "v double").agg(agg("v")).collect()[0][0]

    def frobenius_norm(self) -> float:
        """‖A‖_F via per-block partial sums + Spark agg (tree reduction)."""

        def sq(blk: np.ndarray) -> float:
            v = blk.ravel()
            return v @ v

        return math.sqrt(self._reduce_blocks(sq, F.sum))

    def max_abs(self) -> float:
        """‖A‖_max (largest |entry|) — per-block partial max + Spark agg.

        The distributed check primitive: ‖L·Lᵀ−A‖_max / ‖Q·R−A‖_max style
        residuals never materialize O(matrix) on the driver."""
        out = self._reduce_blocks(lambda blk: np.abs(blk).max(), F.max)
        return float(out) if out is not None else 0.0

    def _axis_sums(self, axis: int) -> np.ndarray:
        """Column (axis=0) or row (axis=1) sums: per-block partials, one
        merge per block column (row) in ascending block row (column)
        order, driver assembly."""
        g, ddl = self.layout, "bj int, k int, z binary"

        def part(batches) -> Iterator:
            import pyarrow as pa

            schema = _pa_schema(ddl)
            for rb in batches:
                out: dict[str, list] = {"bj": [], "k": [], "z": []}
                for bi, bj, blk in g.blocks(rb):
                    out["bj"].append(bj if axis == 0 else bi)
                    out["k"].append(bi if axis == 0 else bj)
                    out["z"].append(blk.sum(axis=axis).tobytes())
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        partials = _source(self).mapInArrow(part, ddl)
        size, bs = (g.m, g.bc) if axis == 0 else (g.n, g.br)
        return _sum_partials(partials, size, bs, 1).ravel()

    def col_sums(self) -> np.ndarray:
        """Column sums (axis=0 reduction): per-block partial → driver combine."""
        return self._axis_sums(0)

    def row_sums(self) -> np.ndarray:
        """Row sums (axis=1 reduction): per-block partial → driver combine."""
        return self._axis_sums(1)

    def sum(self) -> float:
        """Global sum — reference ``x.sum()`` (test_collections.py:92-94)."""
        return float(self.col_sums().sum())

    def mean(self) -> float:
        """Global mean — reference ``x.mean()`` (test_collections.py:92)."""
        return float(self.col_sums().sum() / (self.n_rows * self.n_cols))

    def col_means(self) -> np.ndarray:
        """Per-column means — ``x.mean(axis=0)``."""
        return self.col_sums() / self.n_rows

    def col_stds(self, ddof: int = 0) -> np.ndarray:
        """Per-column standard deviation — reference ``x.std(axis=0)``
        (test_collections.py:93).  Moment formula over two pipelined
        passes (column sums, column sums-of-squares — the square fuses
        into the same map task, no extra shuffle); only 2·m doubles ever
        reach the driver."""
        s = self.col_sums()
        ss = self.map_elementwise(lambda b: b * b).col_sums()
        n = self.n_rows
        var0 = np.maximum(ss / n - (s / n) ** 2, 0.0)
        if ddof:
            var0 = var0 * (n / (n - ddof))
        return np.sqrt(var0)

    def map_with_row_vector(
        self, vec: np.ndarray, fn: Callable[[np.ndarray, np.ndarray], np.ndarray]
    ) -> "BlockMatrix":
        """Numpy-style broadcasting against a per-ROW vector (length n_rows):
        each block sees its row-slice of `vec` — e.g. demeaning
        `x - x.mean(axis=1)[:, None]` (reference workload,
        `wukong/tests/test_collections.py:90-95`).

        Scale: `vec` ships once in the task closure (length-n driver array
        — fine for the tall-skinny shapes this layer targets; a huge n
        would instead join a (bi, slice) table)."""
        br = self.block_rows

        def f(bi, bj, blk):
            return bi, bj, fn(blk, vec[bi * br : bi * br + blk.shape[0]][:, None])

        return self._blockwise(f, self.n_rows, self.n_cols, br, self.block_cols)

    def map_with_col_vector(
        self, vec: np.ndarray, fn: Callable[[np.ndarray, np.ndarray], np.ndarray]
    ) -> "BlockMatrix":
        """Broadcasting against a per-COLUMN vector (length n_cols):
        `x - x.mean(axis=0)` / feature standardization."""
        bc = self.block_cols

        def f(bi, bj, blk):
            return bi, bj, fn(blk, vec[bj * bc : bj * bc + blk.shape[1]][None, :])

        return self._blockwise(f, self.n_rows, self.n_cols, self.block_rows, bc)

    # -- GEMM (replicate + cogroup-by-output-tile) -------------------------
    def matmul(self, other: "BlockMatrix", emit=None):
        """C = A @ B — replicate-and-cogroup 2D block GEMM over OUTPUT
        TILES of f×f fine blocks: each A block fans out to the output-tile
        columns, each B block to the output-tile rows (JVM-side explode),
        ONE shuffle gathers everything for tile (si, sj), and ONE
        zero-copy Arrow stage computes the tile — k-superchunks stitched
        and dgemm-accumulated in ascending k order — then emits C at the
        original fine blocking.

        ``emit`` (r17 opt round, guide §4.1/§2.3): optional
        ``(fields, fn)`` where ``fields`` is ``[(name, arrow_type_str)]``
        (``int64``/``float64``/``int32``) and ``fn(bi, bj, block_ndarray)``
        returns a tuple of those per-fine-block values.  When set, matmul returns a
        plain DataFrame ``bi, bj, *fields`` computed INSIDE the tile task —
        the product blocks never cross the Python→JVM boundary.  Consumers
        that reduce C to a per-block summary (the GEMM benches' Frobenius
        norms) otherwise chain a second MapInArrow behind this one, paying
        a full C-sized Arrow round trip (JVM↔Python both ways) and a second
        Python worker per core for data the next node immediately folds to
        one value per block.  fn sees exactly the values the emitted bytes
        would have carried (same acc slice), so results are identical.

        The tile factor trades shuffle volume against parallelism:
        replication (= shuffle volume) is grid/f per side, parallelism is
        (grid/f)² tiles.  ``_gemm_tile_factor`` grows f while tiles still
        cover ~¾ of the cluster's cores and per-tile buffers stay under a
        fixed memory cap — at the reference's 10,000²/1,000-block bench on
        local[32] that picks f=2: 8 GB shuffled instead of 16 GB, 25 tiles,
        45 s → 30 s.  k-superchunked accumulation keeps per-task memory
        bounded by O(f²·bs²), independent of the contraction extent — the
        property that matters at 100 TB.

        Measured dead ends at reference dims (do not relearn): join-on-k
        SUMMA (grid_k join keys → 10× under-parallelism + partials through
        Arrow twice, 119 s), broadcast of an 800 MB operand (driver
        funnel, 188 s), shuffle_hash hint (hash-relation OOM), a pandas
        grouped map instead of mapInArrow (bytes-object copies of the
        whole 16 GB stream), f=3 tiles (under-parallel + 1 GB/task
        buffers, 58 s), spark.local.dir on tmpfs (no gain — page cache
        already absorbs shuffle files).

        Determinism: fixed ascending k-superchunk order and fixed BLAS
        threading make the float result run-to-run reproducible.  Missing
        blocks (sparse operands, e.g. triangular L) are zero-filled in the
        stitched chunks — the missing-block ≡ zero convention.
        """
        assert self.n_cols == other.n_rows, "inner dims must agree"
        assert self.block_cols == other.block_rows, "inner block dims must agree"
        A, B = self, other
        br, bc = A.block_rows, B.block_cols
        n, m = A.n_rows, B.n_cols
        kbs = A.block_cols
        kdim = A.n_cols
        gi, gj = A.grid_rows, B.grid_cols
        par = A.df.sparkSession.sparkContext.defaultParallelism
        if A.gen_seed is not None and B.gen_seed is not None:
            # Both operands fused (seed-regenerated in-task): shuffle volume
            # no longer scales with 1/f, so the tile factor's only remaining
            # trade is parallelism + cache behavior — and f=1 wins both
            # (measured 2× at the reference 10,000²/1,000 GEMM: 13 s vs
            # 24 s steady-state; 100 fine tasks balance better than 25 and
            # an 8 MB accumulator stays cache-resident vs 32 MB tiles).
            # Regen-vs-dgemm share is ~c_gen·rate/(f·bs) — grid-independent,
            # and roughly EQUAL to the dgemm time at bs=1000 on this host
            # (r15 floor measurement: 0.125 s/block-gen vs 0.226 s/dgemm
            # single-thread).  f=2 would halve regen but drops the ref
            # grid to 25 tasks on 32 cores (one 78%-utilized wave) — the
            # r5 measurement and the r15 wave math agree it nets ≈0;
            # f=1 keeps the finer 100-task balance.  See ROUND_NOTES r15
            # "GEMM floor" for the full core-seconds budget.
            f = 1
        else:
            f = _gemm_tile_factor(gi, gj, br, bc, par)
        si_n = (gi + f - 1) // f
        sj_n = (gj + f - 1) // f

        ga, gb = A.layout, B.layout

        def rep(bm: "BlockMatrix") -> DataFrame:
            # Seed-generated operands ship KEY ROWS ONLY through the
            # shuffle (their source's data is NULL) and are regenerated
            # inside gemm_tiles post-sort — the blockwise fusion dask
            # applies to da.random consumers (README.md:250-271).  At the
            # reference's 10,000²/1,000-block GEMM this removes ~8 GB of
            # shuffle payload per generated side.
            #
            # r18 (guide §2 / VERDICT r17 #7): a df-backed operand can
            # carry far more partitions than blocks (e.g. a factorization
            # result assembled from per-step checkpoints — 129 partitions
            # for 10 triangular blocks), and every one of them becomes a
            # map task here.  Cap the map width at the block count; a
            # narrow coalesce, no shuffle.  At scale blocks ≫ partitions,
            # so this never fires.
            src = _source(bm)
            if src.rdd.getNumPartitions() > bm.grid_rows * bm.grid_cols:
                src = src.coalesce(bm.grid_rows * bm.grid_cols)
            return src

        a_rep = rep(A).select(
            (F.col("bi") / f).cast("int").alias("si"),
            F.explode(F.sequence(F.lit(0), F.lit(sj_n - 1))).alias("sj"),
            F.col("bi").alias("r"),
            F.col("bj").alias("k"),
            F.lit(0).alias("side"),
            F.col("data"),
        )
        b_rep = rep(B).select(
            F.explode(F.sequence(F.lit(0), F.lit(si_n - 1))).alias("si"),
            (F.col("bj") / f).cast("int").alias("sj"),
            F.col("bj").alias("r"),
            F.col("bi").alias("k"),
            F.lit(1).alias("side"),
            F.col("data"),
        )
        both = a_rep.unionByName(b_rep)

        def gemm_tiles(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            if emit is not None:
                _pa_types = {
                    "int32": pa.int32(), "int64": pa.int64(),
                    "float64": pa.float64(),
                }
                emit_fields, emit_fn = emit
                out_schema = pa.schema(
                    [("bi", pa.int32()), ("bj", pa.int32())]
                    + [(nm, _pa_types[tp]) for nm, tp in emit_fields]
                )
            else:
                out_schema = pa.schema(
                    [("bi", pa.int32()), ("bj", pa.int32()), ("data", pa.binary())]
                )
            # STREAMING consumer (VERDICT r2 #2): rows arrive sorted by
            # (si, sj, k), so only the CURRENT k-superchunk's source blocks
            # are ever held — per-task memory is O(f²·bs²) + one ≤64 MB
            # input arrow batch (spark.sql.execution.arrow.maxBytesPerBatch
            # bounds what the JVM hands us), independent of the contraction
            # extent.  The buffered-everything variant was O(2·f·grid_k·bs²)
            # per task — tens of GB at 100× the reference's k.
            cur: tuple[int, int] | None = None  # current tile (si, sj)
            acc: np.ndarray | None = None
            tmp: np.ndarray | None = None  # reused dgemm output buffer
            r0 = c0 = 0
            sk_cur = 0
            abuf: dict[tuple[int, int], np.ndarray] = {}
            bbuf: dict[tuple[int, int], np.ndarray] = {}

            def flush_superchunk() -> None:
                """Stitch the buffered superchunk and dgemm into acc.
                Ascending-sk call order keeps the accumulation determinstic
                (same order as the buffered variant)."""
                nonlocal abuf, bbuf, acc, tmp
                if not abuf and not bbuf:
                    return
                k0 = sk_cur * f * kbs
                kt = min(f * kbs, kdim - k0)
                rt, ct = acc.shape
                if len(abuf) == 1 and len(bbuf) == 1:
                    ablk = next(iter(abuf.values()))
                    bblk = next(iter(bbuf.values()))
                    if ablk.shape == (rt, kt) and bblk.shape == (kt, ct):
                        # f=1 fast path: the superchunk IS one full block
                        # pair — dgemm straight from the source views into
                        # a reused temp, skipping the 2×bs² stitch copies
                        # and the per-chunk result allocation (measured
                        # `matmul(out=) + +=` ≈ 2.4× `acc += a @ b` at
                        # 1000³ on this host)
                        if tmp is None or tmp.shape != (rt, ct):
                            tmp = np.empty((rt, ct))
                        np.matmul(ablk, bblk, out=tmp)
                        acc += tmp
                        abuf, bbuf = {}, {}
                        return
                ach = np.zeros((rt, kt))
                bch = np.zeros((kt, ct))
                for (bi, k), blk in abuf.items():
                    rr, kk = blk.shape
                    ach[
                        bi * br - r0 : bi * br - r0 + rr,
                        k * kbs - k0 : k * kbs - k0 + kk,
                    ] = blk
                for (bj, k), blk in bbuf.items():
                    kk, cc = blk.shape
                    bch[
                        k * kbs - k0 : k * kbs - k0 + kk,
                        bj * bc - c0 : bj * bc - c0 + cc,
                    ] = blk
                acc += ach @ bch
                abuf, bbuf = {}, {}  # releases the arrow views

            def emit_tile() -> "pa.RecordBatch":
                si, sj = cur
                rows: dict[str, list] = {nm: [] for nm in out_schema.names}
                for bi in range(si * f, min((si + 1) * f, gi)):
                    for bj in range(sj * f, min((sj + 1) * f, gj)):
                        rr = min(br, n - bi * br)
                        cc = min(bc, m - bj * bc)
                        blk = acc[
                            bi * br - r0 : bi * br - r0 + rr,
                            bj * bc - c0 : bj * bc - c0 + cc,
                        ]
                        rows["bi"].append(bi)
                        rows["bj"].append(bj)
                        if emit is not None:
                            for (nm, _), v in zip(
                                emit_fields, emit_fn(bi, bj, blk)
                            ):
                                rows[nm].append(v)
                        else:
                            rows["data"].append(np.ascontiguousarray(blk).tobytes())
                return pa.RecordBatch.from_pydict(rows, schema=out_schema)

            for rb in batches:
                si_c, sj_c = rb.column("si"), rb.column("sj")
                r_c, k_c = rb.column("r"), rb.column("k")
                side_c, d_c = rb.column("side"), rb.column("data")
                for i in range(rb.num_rows):
                    key = (si_c[i].as_py(), sj_c[i].as_py())
                    k = k_c[i].as_py()
                    if key != cur:
                        if cur is not None:
                            flush_superchunk()
                            yield emit_tile()
                        cur = key
                        r0, c0 = key[0] * f * br, key[1] * f * bc
                        acc = np.zeros((min(f * br, n - r0), min(f * bc, m - c0)))
                        sk_cur = k // f
                        abuf, bbuf = {}, {}
                    elif k // f != sk_cur:
                        flush_superchunk()
                        sk_cur = k // f
                    r = r_c[i].as_py()
                    if side_c[i].as_py() == 0:
                        abuf[(r, k)] = ga.resolve(d_c[i], r, k)
                    else:
                        bbuf[(r, k)] = gb.resolve(d_c[i], k, r)
            if cur is not None:
                flush_superchunk()
                yield emit_tile()

        # explicit partition count: one tile's inputs per partition avoids
        # sort spill (the default shuffle.partitions put ~10 GB of sort
        # input across 32 tasks at reference dims); sortWithinPartitions
        # clusters each tile's rows and orders them by k so the consumer
        # above can stream — it's a post-shuffle local sort of row POINTERS
        # (≤ 2·f·grid_k rows per tile), not an extra exchange.  The cap
        # scales with the cluster (≥512, ≥4 waves of cores) so a
        # 1000-executor deployment isn't pinned to 512 shuffle partitions.
        nparts = min(si_n * sj_n, max(512, 4 * par))
        shuffled = both.repartition(nparts, "si", "sj").sortWithinPartitions(
            "si", "sj", "k", "side", "r"
        )
        if emit is not None:
            _ddl = {"int32": "int", "int64": "bigint", "float64": "double"}
            ddl = "bi int, bj int, " + ", ".join(
                f"{nm} {_ddl[tp]}" for nm, tp in emit[0]
            )
            return shuffled.mapInArrow(gemm_tiles, ddl)
        return BlockMatrix(shuffled.mapInArrow(gemm_tiles, BLOCK_SCHEMA), n, m, br, bc)

    # -- factorizations ---------------------------------------------------
    def gramian(self) -> np.ndarray:
        """AᵀA for tall-skinny A (n_cols small): per-block AᵢᵀAᵢ → sum.

        The reduction is a depth-2 tree over c×c buffers (r7): task
        partials group into ~√(n_partials) level-1 reducers before the
        final single merge, so no reducer ever reads more than
        ~√(n_partials)·c² doubles — at c=1000 on 32 tasks the old
        single-reducer plan read a 244 MB shuffle in one task; on a
        1,000-task cluster it would have read 8 GB.

        r17 opt round (guide §2.3, shuffle fewer bytes): AᵢᵀAᵢ is
        symmetric, so partials ship only the UPPER TRIANGLE —
        c(c+1)/2 doubles instead of c², halving every exchange and the
        driver transfer (c=1000: 256 MB → 128 MB through the level-1
        shuffle).  Sums of triangles = the triangle of the sum, so the
        reduction is unchanged; the driver mirrors the summed triangle
        back to a full matrix.  (dgemm's [i,j]/[j,i] agree to the last
        ulp — both are the same-order K-dot of the same columns — and
        every consumer is a symmetric solver (eigh/eigvalsh reads one
        triangle) or a 1e-8-gated verdict, so the mirror is safe.)

        Portability caveat (ADVICE r17): bitwise [i,j] == [j,i] holds for
        current OpenBLAS dgemm kernels but is not guaranteed by any BLAS
        spec — under a different BLAS the mirrored matrix can differ
        from the old full-matrix result by a few ulps.  All current
        consumers tolerate that (1e-8 gates / symmetric solvers); if a
        non-OpenBLAS backend is ever supported, symmetrize partials as
        (g + g.T)/2 instead of asserting bitwise symmetry.
        """
        c_total = self.n_cols
        assert self.grid_cols == 1, "gramian: matrix must be one block wide"
        g = self.layout
        src = _source(self)
        n_parts = max(1, src.rdd.getNumPartitions())
        n_groups = max(1, int(n_parts**0.5))
        ddl = "g int, o int, gram binary"

        def part(batches) -> Iterator:
            import pyarrow as pa

            schema = _pa_schema(ddl)
            for rb in batches:
                # one partial per (arrow batch, level-1 group), ordered in
                # its group by the batch's first bi (unique per batch)
                totals: dict[int, np.ndarray] = {}
                for bi, _, blk in g.blocks(rb):
                    gm = blk.T @ blk
                    key = bi % n_groups
                    totals[key] = gm if key not in totals else totals[key] + gm
                if totals:
                    iu = _triu(c_total)
                    yield pa.RecordBatch.from_pydict(
                        {
                            "g": list(totals),
                            "o": [rb.column("bi")[0].as_py()] * len(totals),
                            "gram": [t[iu].tobytes() for t in totals.values()],
                        },
                        schema=schema,
                    )

        src = src.mapInArrow(part, ddl)
        tri_bytes = c_total * (c_total + 1) * 4  # c(c+1)/2 doubles
        if n_parts <= GRAMIAN_DIRECT_PARTS and n_parts * tri_bytes <= 64 << 20:
            # small-input fast path (r9): few task partials AND bounded
            # driver traffic (≤ 64 MB of c² buffers) — collecting them
            # directly keeps a 1-stage plan (no level-1 exchange), the
            # latency floor for the sub-second sigma/check queries.
            rows = src.collect()
        else:
            # level 1: ~√(n_partials) parallel reducers; level 2: driver
            # sums the ≤ n_groups group totals (n_groups·c² doubles) — no
            # reducer ever reads more than ~√(n_partials)·c² doubles
            rows = _sum_by_key(src, "g", "o", "gram").collect()
        # sort by group key so the float accumulation order is deterministic
        rows.sort(key=lambda row: row.g)
        tri = np.sum([np.frombuffer(row.gram) for row in rows], axis=0)
        # mirror the summed packed triangle back to a full symmetric matrix
        iu = _triu(c_total)
        total = np.empty((c_total, c_total))
        total[iu] = tri
        total.T[iu] = tri
        return total

    def tsqr(self) -> tuple["BlockMatrix", np.ndarray]:
        """Direct TSQR (docs/examples/examples.rst:72-82; Benson et al.).

        Pass 1 (distributed): per-block-row QR → Q1ᵢ stays on executors,
        small R1ᵢ (c×c) to the driver.  Driver: QR of the stacked R1s →
        Q2, R.  Pass 2 (distributed): Qᵢ = Q1ᵢ · Q2ᵢ-slice (slice broadcast
        in the task closure).  Orthonormality holds even for rank-deficient
        input (unlike the A·R⁻¹ shortcut).

        When grid_rows exceeds TSQR_TREE_FANOUT an extra DISTRIBUTED merge
        level runs first: groups of ≤fanout R1s stack-and-QR on executors
        (one grouped applyInArrow call per group), only the per-group R2s
        reach the driver —
        driver memory drops from O(grid_rows·c²) to O(grid_rows/fanout·c²),
        and Qᵢ composes as Q1ᵢ·Q2-slice·Q3-slice (VERDICT r1 fix #4).

        Returns (Q as BlockMatrix, R as numpy (c×c)).
        """
        return self._tsqr(check=False)

    def tsqr_check(self) -> tuple[np.ndarray, float, float]:
        """TSQR with fused quality verification: returns
        ``(R, orth_err, recon_err)`` where orth_err = ‖QᵀQ − I‖∞ and
        recon_err = max|Q·R − A| — WITHOUT ever materializing Q.

        Two distributed jobs: stage 1 (per-block QR → R1s to the driver)
        and one verification pass that forms each Qᵢ exactly as tsqr()'s
        Q stage does and accumulates the QᵀQ partial AND the reconstruction
        residual together.  For a seeded input that pass regenerates the
        block and redoes its local QR (bitwise-identical), so nothing is
        persisted (r7: this replaced a 4-job persist+gramian+subtract
        composition whose cache-read pass alone cost 77 s of executor time
        at the 262144×128 bench shape); a materialized input reads its
        persisted Q1 store and equi-joins A on bi."""
        return self._tsqr(check=True)

    def _tsqr(self, check: bool):
        """tsqr() (check=False) and tsqr_check() (check=True): one stage 1,
        one merge (direct or tree), one Q stage that either emits Qᵢ blocks
        or folds them into verification partials."""
        c = self.n_cols
        assert self.grid_cols == 1, "tsqr: matrix must be one block wide"
        g = self.layout
        src = _source(self)
        # The one source-dependent choice: a materialized input keeps its
        # per-block Q1 persisted (Q's backing store; q.release() frees
        # it).  A seeded input keeps nothing: the Q stage regenerates the
        # block and redoes its QR in-task (~100 ms for an 8192×128 block),
        # which beats writing + re-reading a 256 MB Q1 cache store (r7
        # A/B — regeneration beats materialization for seeded inputs).
        keep_q1 = self.gen_seed is None

        def local_qr(batches) -> Iterator:
            import pyarrow as pa

            schema = pa.schema(
                [("bi", pa.int32()), ("q1", pa.binary()), ("r1", pa.binary())]
            )
            for rb in batches:
                out: dict[str, list] = {"bi": [], "q1": [], "r1": []}
                for bi, _, blk in g.blocks(rb):
                    q1, r1 = np.linalg.qr(blk, mode="reduced")
                    out["bi"].append(bi)
                    out["q1"].append(
                        np.ascontiguousarray(q1).tobytes() if keep_q1 else None
                    )
                    out["r1"].append(np.ascontiguousarray(r1).tobytes())
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        stage1 = src.mapInArrow(local_qr, "bi int, q1 binary, r1 binary")
        deps: list[DataFrame] = []
        if keep_q1:
            stage1 = stage1.persist()
            deps.append(stage1)
            rows = stage1.select("bi", "q1")
            if check:
                rows = rows.join(src.select("bi", "data"), "bi")
        else:
            rows = src.select("bi", "data")

        tree = self.grid_rows > TSQR_TREE_FANOUT
        if tree:
            # one distributed group-merge level (fanout TSQR_TREE_FANOUT),
            # then the driver QR over the grid_rows/fanout group R2s:
            # Qᵢ = Q1ᵢ · Q2ᵢ · Q3_group(i)
            ddl = "bi int, gid int, q2 binary, r2 binary"

            def merge_group(key, t):
                import pyarrow as pa

                pieces = zip(t.column("bi").to_pylist(), t.column("r1").to_pylist())
                q2s, r2g = _stack_qr(pieces, c, canonical=False)
                nq = len(q2s)
                # one marker row (bi -1) per group carries the group R2 to
                # the driver
                out = {
                    "bi": list(q2s) + [-1],
                    "gid": [key[0].as_py()] * (nq + 1),
                    "q2": [np.ascontiguousarray(q).tobytes() for q in q2s.values()]
                    + [None],
                    "r2": [None] * nq + [np.ascontiguousarray(r2g).tobytes()],
                }
                return pa.Table.from_pydict(out, schema=_pa_schema(ddl))

            lvl2 = (
                stage1.select("bi", "r1")
                .withColumn("gid", (F.col("bi") / TSQR_TREE_FANOUT).cast("int"))
                .groupBy("gid")
                .applyInArrow(merge_group, ddl)
                .persist()
            )
            deps.append(lvl2)
            r2_rows = lvl2.filter(F.col("bi") == -1).select("gid", "r2").collect()
            slices, r_final = _stack_qr([(x.gid, x.r2) for x in r2_rows], c)
            members = lvl2.filter(F.col("bi") >= 0).select("bi", "gid", "q2")
            # a seeded source's rows carry no payload (data is NULL for
            # every bi), so the member rows alone feed the Q stage — no join
            rows = (
                rows.join(members, "bi")
                if keep_q1
                else members.withColumn("data", F.lit(None).cast("binary"))
            )
        else:
            r1_rows = stage1.select("bi", "r1").collect()
            slices, r_final = _stack_qr([(x.bi, x.r1) for x in r1_rows], c)

        def q_stage(batches) -> Iterator:
            import pyarrow as pa

            for rb in batches:
                bi_c = rb.column("bi")
                q1_c = rb.column("q1") if keep_q1 else None
                a_c = rb.column("data") if "data" in rb.schema.names else None
                gid_c, q2_c = (rb.column("gid"), rb.column("q2")) if tree else (None, None)
                out: dict[str, list] = {"bi": [], "bj": [], "data": []}
                gram = np.zeros((c, c))
                mx = 0.0
                for i in range(rb.num_rows):
                    bi = bi_c[i].as_py()
                    if tree:
                        g3 = slices[gid_c[i].as_py()]
                        tail = np.dot(
                            np.frombuffer(q2_c[i].as_buffer(), dtype=np.float64)
                            .reshape(-1, g3.shape[0]),
                            g3,
                        )
                    else:
                        tail = slices[bi]
                    a = g.resolve(a_c[i], bi, 0) if a_c is not None else None
                    if keep_q1:
                        q1 = np.frombuffer(
                            q1_c[i].as_buffer(), dtype=np.float64
                        ).reshape(-1, tail.shape[0])
                    else:
                        q1, _ = np.linalg.qr(a, mode="reduced")
                    qblk = np.dot(q1, tail)
                    if check:
                        gram += qblk.T @ qblk
                        mx = max(mx, float(np.abs(qblk @ r_final - a).max()))
                    else:
                        out["bi"].append(bi)
                        out["bj"].append(0)
                        out["data"].append(qblk.tobytes())
                if not check:
                    yield pa.RecordBatch.from_pydict(out, schema=_pa_block_schema(pa))
                elif rb.num_rows:
                    yield pa.RecordBatch.from_pydict(
                        {"g": [gram.tobytes()], "m": [mx]},
                        schema=pa.schema([("g", pa.binary()), ("m", pa.float64())]),
                    )

        if not check:
            q = BlockMatrix(
                rows.mapInArrow(q_stage, BLOCK_SCHEMA),
                self.n_rows, c, self.block_rows, c,
            )
            # q.release() frees Q's backing stores once the caller is done —
            # unpersisting is safe any time (persist does not truncate
            # lineage; later reads just recompute)
            q._cached_deps = deps
            return q, r_final
        parts = rows.mapInArrow(q_stage, "g binary, m double").collect()
        for df in deps:
            df.unpersist()
        gram = np.zeros((c, c))
        recon = 0.0
        for row in parts:
            gram += np.frombuffer(row.g).reshape(c, c)
            recon = max(recon, row.m)
        orth = float(np.abs(gram - np.eye(c)).max())
        return r_final, orth, recon

    def reblock_single_column(self) -> "BlockMatrix":
        """Horizontal re-block to ONE block column: each block row's column
        blocks become one wide block (bi, 0, [A_i0 | A_i1 | …]) — a
        :meth:`rechunk`, so a seeded input re-blocks from regenerated
        blocks; a matrix that is already one block wide passes through."""
        if self.grid_cols == 1:
            return self
        return self.rechunk(self.block_rows, self.n_cols)

    # -- re-chunking / concatenation (da.rechunk / da.concatenate) --------
    def _emit_pieces(
        self,
        row_off: int,
        col_off: int,
        tbr: int,
        tbc: int,
        clip_rows: int | None = None,
        clip_cols: int | None = None,
    ) -> DataFrame:
        """Map side of rechunk/vstack/hstack/slice: slice every block into
        the pieces that intersect the TARGET blocking (tbr × tbc) after a
        global (row_off, col_off) shift, clipped to the output extent
        [0, clip_rows) × [0, clip_cols) (negative offsets + clipping give
        range slicing).  Pieces carry their destination block id and
        in-block offsets; payloads are contiguous copies of sub-slices,
        so the downstream stitch is pure byte placement — re-chunking is
        bitwise-exact data movement, never recomputation."""
        br, bc = self.block_rows, self.block_cols

        def pieces(bi, bj, blk):
            r, c = blk.shape
            gr0, gc0 = row_off + bi * br, col_off + bj * bc
            lo_r, hi_r = max(gr0, 0), gr0 + r
            lo_c, hi_c = max(gc0, 0), gc0 + c
            if clip_rows is not None:
                hi_r = min(hi_r, clip_rows)
            if clip_cols is not None:
                hi_c = min(hi_c, clip_cols)
            if hi_r <= lo_r or hi_c <= lo_c:
                return
            for obi in range(lo_r // tbr, (hi_r - 1) // tbr + 1):
                rs = max(lo_r, obi * tbr)
                re = min(hi_r, (obi + 1) * tbr)
                for obj in range(lo_c // tbc, (hi_c - 1) // tbc + 1):
                    cs = max(lo_c, obj * tbc)
                    ce = min(hi_c, (obj + 1) * tbc)
                    yield (
                        obi, obj, rs - obi * tbr, cs - obj * tbc,
                        blk[rs - gr0 : re - gr0, cs - gc0 : ce - gc0],
                    )

        return _piece_rows(_source(self), self.layout, pieces)

    @staticmethod
    def _stitch_pieces(
        pieces: DataFrame, n: int, m: int, tbr: int, tbc: int
    ) -> "BlockMatrix":
        """Reduce side of rechunk/vstack/hstack: one shuffle on the
        destination block id, then byte placement into the output block."""

        def stitch(key, t):
            obi, obj = key[0].as_py(), key[1].as_py()
            out = np.zeros((min(tbr, n - obi * tbr), min(tbc, m - obj * tbc)))
            extents = [t.column(k).to_pylist() for k in ("r0", "c0", "nr", "nc")]
            for r0, c0, nr, nc, p in zip(*extents, t.column("p")):
                out[r0 : r0 + nr, c0 : c0 + nc] = np.frombuffer(
                    p.as_buffer(), dtype=np.float64
                ).reshape(nr, nc)
            return _block_table(obi, obj, out)

        return BlockMatrix(
            pieces.groupBy("obi", "obj").applyInArrow(stitch, BLOCK_SCHEMA),
            n, m, tbr, tbc,
        )

    def rechunk(self, block_rows: int, block_cols: int) -> "BlockMatrix":
        """Re-block to a new chunking — ``da.rechunk`` parity (chunking is
        the user-visible parallelism knob, README.md:63; dask exposes
        rechunk on every collection).

        ONE shuffle whose volume is exactly the matrix size — the lower
        bound, since every byte changes blocks at most once.  At 100 TB the
        plan holds: pieces inherit the scan's partitioning, the groupBy
        shuffles each piece directly to its destination reducer, and no
        task ever holds more than one output block plus its incoming
        pieces."""
        if block_rows == self.block_rows and block_cols == self.block_cols:
            return self
        pieces = self._emit_pieces(0, 0, block_rows, block_cols)
        return BlockMatrix._stitch_pieces(
            pieces, self.n_rows, self.n_cols, block_rows, block_cols
        )

    def vstack(self, other: "BlockMatrix") -> "BlockMatrix":
        """Row-wise concatenation — ``da.concatenate(axis=0)`` parity.

        Output blocking = self's; both inputs are sliced against that
        target (so arbitrary, mutually ragged blockings concatenate in the
        SAME single shuffle a plain rechunk costs — no pre-alignment
        pass)."""
        assert self.n_cols == other.n_cols, "vstack: column counts must match"
        tbr, tbc = self.block_rows, self.block_cols
        n = self.n_rows + other.n_rows
        pieces = self._emit_pieces(0, 0, tbr, tbc).unionByName(
            other._emit_pieces(self.n_rows, 0, tbr, tbc)
        )
        return BlockMatrix._stitch_pieces(pieces, n, self.n_cols, tbr, tbc)

    def hstack(self, other: "BlockMatrix") -> "BlockMatrix":
        """Column-wise concatenation — ``da.concatenate(axis=1)`` parity."""
        assert self.n_rows == other.n_rows, "hstack: row counts must match"
        tbr, tbc = self.block_rows, self.block_cols
        m = self.n_cols + other.n_cols
        pieces = self._emit_pieces(0, 0, tbr, tbc).unionByName(
            other._emit_pieces(0, self.n_cols, tbr, tbc)
        )
        return BlockMatrix._stitch_pieces(pieces, self.n_rows, m, tbr, tbc)

    def slice(self, r0: int, r1: int, c0: int, c1: int) -> "BlockMatrix":
        """Range slice ``a[r0:r1, c0:c1]`` — dask array-slicing parity
        (chunked `a[i:j]` is core da surface; the reference executes such
        graphs opaquely).  Output keeps this matrix's blocking, re-anchored
        at the slice origin.

        Blocks outside the range are pruned JVM-SIDE (a Catalyst filter on
        (bi, bj) — never decoded), then the rechunk piece machinery runs
        with a negative offset + output clipping: one shuffle whose volume
        is the SLICE size, not the matrix size."""
        assert 0 <= r0 < r1 <= self.n_rows and 0 <= c0 < c1 <= self.n_cols
        br, bc = self.block_rows, self.block_cols
        pruned = self.df.filter(
            (F.col("bi") >= r0 // br)
            & (F.col("bi") <= (r1 - 1) // br)
            & (F.col("bj") >= c0 // bc)
            & (F.col("bj") <= (c1 - 1) // bc)
        )
        sub = BlockMatrix(pruned, self.n_rows, self.n_cols, br, bc)
        pieces = sub._emit_pieces(
            -r0, -c0, br, bc, clip_rows=r1 - r0, clip_cols=c1 - c0
        )
        return BlockMatrix._stitch_pieces(pieces, r1 - r0, c1 - c0, br, bc)

    def take_rows(self, indices) -> "BlockMatrix":
        """Fancy row indexing ``a[idx_list]`` — da slicing-with-a-list
        parity (r17, VERDICT r16 missing #4).  `indices` is a driver-held
        1-D integer sequence (repeats and any order allowed, as in numpy);
        output row t is input row indices[t], blocking preserved.

        Plan: the driver compresses the index list into RUNS of
        consecutive source rows that map to consecutive output rows
        within one (source block, dest block) pair — a sorted ascending
        selection of k rows costs O(k / run length) pieces, not k — and
        broadcasts the per-source-block run lists.  One mapInArrow emits
        the run slices, one shuffle stitches them — the rechunk piece
        machinery, so data moves once, bytes exact.  Row count of the
        index list is driver-bounded (it already lives on the driver, as
        dask's fancy-index lists do)."""
        idx = np.asarray(list(indices), dtype=np.int64)
        if idx.ndim != 1 or len(idx) == 0:
            raise ValueError("take_rows requires a non-empty 1-D index list")
        if (idx < 0).any() or (idx >= self.n_rows).any():
            raise IndexError("row index out of bounds")
        br, bc, m = self.block_rows, self.block_cols, self.n_cols
        n_out = len(idx)
        # runs: consecutive (dst, src) pairs with src step 1 inside one
        # source block and one dest block
        runs_by_src: dict[int, list[tuple[int, int, int]]] = {}
        t = 0
        while t < n_out:
            s = int(idx[t])
            sb, length = s // br, 1
            while (
                t + length < n_out
                and int(idx[t + length]) == s + length
                and (s + length) // br == sb
                and (t + length) // br == t // br
            ):
                length += 1
            runs_by_src.setdefault(sb, []).append((s - sb * br, t, length))
            t += length
        sc = self.df.sparkSession.sparkContext
        bc_runs = sc.broadcast(runs_by_src)

        def run_pieces(bi, bj, blk):
            for lr0, dst0, ln in bc_runs.value[bi]:
                obi = dst0 // br
                yield obi, bj, dst0 - obi * br, 0, blk[lr0 : lr0 + ln, :]

        # source blocks no run reads are pruned JVM-side, never decoded
        src = _source(self).filter(F.col("bi").isin(list(runs_by_src)))
        pieces = _piece_rows(src, self.layout, run_pieces)
        return BlockMatrix._stitch_pieces(pieces, n_out, m, br, bc)

    def compress_rows(self, mask) -> "BlockMatrix":
        """Boolean row masking ``a[mask]`` — da boolean-indexing parity
        (r17): keep rows where `mask` is True, in order.  `mask` is a
        driver-held boolean sequence of length n_rows; delegates to
        `take_rows`, whose run compression makes a dense mask (long True
        stretches) cost O(#runs) pieces."""
        mk = np.asarray(list(mask), dtype=bool)
        if mk.shape != (self.n_rows,):
            raise ValueError(
                f"mask length {mk.shape} must equal n_rows {self.n_rows}"
            )
        if not mk.any():
            raise ValueError("mask selects zero rows")
        return self.take_rows(np.flatnonzero(mk))

    def take_cols(self, indices) -> "BlockMatrix":
        """Fancy COLUMN indexing ``a[:, idx_list]`` (r17) — the transpose
        composition: transpose → take_rows → transpose.  Three shuffles
        where a native column analog would cost one; fine for the
        parity tier (column selections are usually narrow), and the
        composition inherits take_rows' run compression."""
        return self.transpose().take_rows(indices).transpose()

    def compress_cols(self, mask) -> "BlockMatrix":
        """Boolean COLUMN masking ``a[:, mask]`` (r17) — see take_cols."""
        mk = np.asarray(list(mask), dtype=bool)
        if mk.shape != (self.n_cols,):
            raise ValueError(
                f"mask length {mk.shape} must equal n_cols {self.n_cols}"
            )
        if not mk.any():
            raise ValueError("mask selects zero columns")
        return self.take_cols(np.flatnonzero(mk))

    def cumsum_rows(self) -> "BlockMatrix":
        """Cumulative sum down each column (``da.cumsum(axis=0)`` parity)
        — the classic two-phase distributed prefix sum:

        1. a light pass reduces each block to its 1×c column-total row;
           one grouped applyInArrow call per block column turns its
           grid_rows tiny rows into exclusive prefix offsets, added in
           ascending bi — distributed, O(grid · bc) per task, never a
           driver collect;
        2. a map pass computes each block's LOCAL column-wise cumsum; the
           offsets (~grid⁻¹·br⁻¹ of the matrix; broadcast under
           BROADCAST_CAP, else shuffled) equi-join in and add
           row-broadcast.

        A materialized input is read by both passes — persist it for one
        scan each, exactly the contract tsqr/gramian consumers already
        follow; a seeded input regenerates its blocks in each pass.

        At 100 TB the plan holds: the only shuffled payload beyond the
        local pass is the offsets table — grid_rows × n_cols doubles,
        ~10⁻⁵ of the matrix."""
        br, bc, n, m = self.block_rows, self.block_cols, self.n_rows, self.n_cols
        src, g = _source(self), self.layout
        partial = _blockwise(src, g, lambda bi, bj, b: (bi, bj, np.cumsum(b, axis=0)))
        # per-block column totals (a 1×c row each)
        totals = _blockwise(src, g, lambda bi, bj, b: (bi, bj, b.sum(axis=0)))
        grid_rows = self.grid_rows
        ddl = "bi int, bj int, off binary, present boolean, nz boolean"

        def offsets(key, t):
            import pyarrow as pa

            # emit a row for EVERY bi in the grid, not just present blocks:
            # an absent block (≡ zero, the documented convention) has a
            # NONZERO cumsum output below nonzero blocks — its constant
            # offset row, flagged present=False so it can be materialized
            # without joining the (absent) data
            present_tot = dict(
                zip(t.column("bi").to_pylist(), t.column("tot").to_pylist())
            )
            run = np.zeros(len(next(iter(present_tot.values()))) // 8)
            rows = {"bi": [], "bj": [], "off": [], "present": [], "nz": []}
            for bi in range(grid_rows):
                rows["bi"].append(bi)
                rows["bj"].append(key[0].as_py())
                rows["off"].append(run.tobytes())
                rows["present"].append(bi in present_tot)
                rows["nz"].append(bool(np.any(run)))
                if bi in present_tot:
                    run = run + np.frombuffer(present_tot[bi])
            return pa.Table.from_pydict(rows, schema=_pa_schema(ddl))

        off_all = (
            totals.withColumnRenamed("data", "tot")
            .groupBy("bj")
            .applyInArrow(offsets, ddl)
        )
        # read by the join branch AND the filler branch: persist so the
        # totals scan + offsets stage run once per action, not twice.  The
        # persisted table is released via the returned matrix's release()
        # (ADVICE r5: it used to sit cached until LRU eviction, one table
        # per cumsum call); callers that drop the result without calling
        # release() still fall back to LRU.
        off_all = off_all.persist()
        # offsets are grid_rows × n_cols doubles = matrix_bytes/block_rows:
        # tiny for blocked matrices, but tens of GB for a 100 TB matrix —
        # broadcast only under the same 256 MB gate the other broadcast
        # sites use, else let it flow through a shuffle equi-join
        # (ADVICE r5: the unconditional broadcast contradicted the scale
        # story in the docstring).
        off_join = off_all.filter(F.col("present")).drop("present", "nz")
        if grid_rows * m * 8 <= BROADCAST_CAP:
            off_join = F.broadcast(off_join)
        joined = partial.join(off_join, ["bi", "bj"])

        def tile_off(batches) -> Iterator:
            import pyarrow as pa

            schema = _pa_block_schema(pa)
            for rb in batches:
                bi_c, bj_c, o_c = rb.column("bi"), rb.column("bj"), rb.column("off")
                out: dict[str, list] = {"bi": [], "bj": [], "data": []}
                for i in range(rb.num_rows):
                    bi, bj = bi_c[i].as_py(), bj_c[i].as_py()
                    r = min(br, n - bi * br)
                    offv = np.frombuffer(o_c[i].as_buffer(), dtype=np.float64)
                    out["bi"].append(bi)
                    out["bj"].append(bj)
                    out["data"].append(np.ascontiguousarray(np.tile(offv, (r, 1))).tobytes())
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        # absent blocks below nonzero ones: output = their constant offset
        # row tiled — generated straight from the tiny offsets table, never
        # joined against data.  Absent blocks whose offset is still all
        # zeros (above the first present block, or in an empty column) stay
        # absent: their correct output IS zero, so densifying them would
        # waste exactly the storage the sparse layout saves.
        fillers = (
            off_all.filter(~F.col("present") & F.col("nz"))
            .drop("present", "nz")
            .mapInArrow(tile_off, BLOCK_SCHEMA)
        )

        g_part = _Layout(n, m, br, bc)

        def add_off(batches) -> Iterator:
            import pyarrow as pa

            schema = _pa_block_schema(pa)
            for rb in batches:
                o_c = rb.column("off")
                out: dict[str, list] = {"bi": [], "bj": [], "data": []}
                for i, (bi, bj, blk) in enumerate(g_part.blocks(rb)):
                    offv = np.frombuffer(o_c[i].as_buffer(), dtype=np.float64)
                    out["bi"].append(bi)
                    out["bj"].append(bj)
                    out["data"].append((blk + offv[None, :]).tobytes())
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        out = BlockMatrix(
            joined.mapInArrow(add_off, BLOCK_SCHEMA).unionByName(fillers),
            n, m, br, bc,
        )
        # let release() free the offsets cache once the caller is done
        out._cached_deps = [off_all]
        return out

    def release(self) -> None:
        """Unpersist any internal DataFrames an operator cached on behalf
        of this matrix.  Current carriers: cumsum_rows/cumsum_cols (the
        offsets table), tsqr and the tree path (the stage-1 per-block QR
        factors Q reads from, plus lvl2), svd_compressed (U carries its
        internal tsqr's handle).  Safe to call any time after the LAST
        action on this matrix (persist does not truncate lineage — later
        reads just recompute); idempotent.

        LIMITATION: handles do not propagate through further
        transformations (slice/map/matmul construct fresh BlockMatrix
        objects) — hold the operator's direct result and call release() on
        THAT, or the cache lingers until LRU eviction."""
        for df in getattr(self, "_cached_deps", []):
            df.unpersist()
        self._cached_deps = []

    def cumsum_cols(self) -> "BlockMatrix":
        """Cumulative sum along each row (``da.cumsum(axis=1)``) — the
        transpose composition: two map-only passes around the axis-0
        prefix sum (transpose is shuffle-free blockwise relabeling, so the
        only exchanges are cumsum_rows' own offset broadcast)."""
        cs = self.transpose().cumsum_rows()
        out = cs.transpose()
        # carry the offsets-cache handle through the transpose so the
        # caller's release() still frees it
        out._cached_deps = getattr(cs, "_cached_deps", [])
        return out

    def map_overlap(
        self, fn: Callable[[np.ndarray], np.ndarray], depth: int
    ) -> "BlockMatrix":
        """Ghost-cell (halo) map along axis 0 — ``da.map_overlap`` with
        ``boundary='none'`` semantics: each block is presented to ``fn``
        with ``depth`` extra rows from its vertical neighbors prepended /
        appended (fewer at the matrix edges), ``fn`` must be
        shape-preserving, and the halo rows are trimmed from its output.
        The standard chunked-stencil primitive (rolling windows, finite
        differences, local smoothing).

        Spark-first plan: every block emits its core plus two ``depth``-row
        slivers addressed to its neighbors; ONE shuffle co-locates each
        target block with its halos (groupBy (tbi, bj)) and one grouped
        applyInArrow call per block assembles [top-halo; core;
        bottom-halo], applies ``fn``, and trims.  Halo traffic is
        2·depth/block_rows of the matrix; the core movement is one full
        exchange — the same volume dask's overlap graph ships when chunks
        live on different workers.

        Requires a DENSE input (every grid block present): halo exchange
        addresses physical neighbors, and an absent-as-zero block would
        silently contribute a truncated halo instead of zeros.
        """
        assert 0 < depth <= self.block_rows, "depth must be ≤ block_rows (one-neighbor halo)"
        br, bc, n, m = self.block_rows, self.block_cols, self.n_rows, self.n_cols
        gr, g = self.grid_rows, self.layout

        def emit(batches) -> Iterator:
            import pyarrow as pa

            schema = pa.schema(
                [
                    ("tbi", pa.int32()),
                    ("bj", pa.int32()),
                    ("role", pa.int32()),
                    ("data", pa.binary()),
                ]
            )
            for rb in batches:
                out: dict[str, list] = {"tbi": [], "bj": [], "role": [], "data": []}
                for bi, bj, blk in g.blocks(rb):
                    out["tbi"].append(bi)
                    out["bj"].append(bj)
                    out["role"].append(0)  # core
                    out["data"].append(blk.tobytes())
                    if bi + 1 < gr:  # this block's tail = below-neighbor's top halo
                        out["tbi"].append(bi + 1)
                        out["bj"].append(bj)
                        out["role"].append(1)
                        out["data"].append(
                            np.ascontiguousarray(blk[-depth:]).tobytes()
                        )
                    if bi > 0:  # this block's head = above-neighbor's bottom halo
                        out["tbi"].append(bi - 1)
                        out["bj"].append(bj)
                        out["role"].append(2)
                        out["data"].append(
                            np.ascontiguousarray(blk[:depth]).tobytes()
                        )
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        def assemble(key, tbl):
            tbi, bj = key[0].as_py(), key[1].as_py()
            c = min(bc, m - bj * bc)
            core = top = bottom = None
            for role, buf in zip(tbl.column("role").to_pylist(), tbl.column("data")):
                arr = np.frombuffer(buf.as_buffer(), dtype=np.float64).reshape(-1, c)
                if role == 0:
                    core = arr
                elif role == 1:
                    top = arr
                else:
                    bottom = arr
            if core is None:
                raise ValueError(
                    f"map_overlap: block ({tbi},{bj}) absent — halo exchange "
                    "requires a dense input (absent-as-zero is unsupported)"
                )
            # ADVICE r6: also verify expected halo PRESENCE — an absent
            # neighbor whose own output position is never materialized (e.g.
            # a downstream slice excludes it) would otherwise silently
            # compute this block with a truncated halo (missing rows treated
            # as the matrix edge) instead of raising
            if top is None and tbi > 0:
                raise ValueError(
                    f"map_overlap: block ({tbi - 1},{bj}) absent — block "
                    f"({tbi},{bj}) is missing its top halo (dense input "
                    "required; absent-as-zero is unsupported)"
                )
            if bottom is None and tbi < gr - 1:
                raise ValueError(
                    f"map_overlap: block ({tbi + 1},{bj}) absent — block "
                    f"({tbi},{bj}) is missing its bottom halo (dense input "
                    "required; absent-as-zero is unsupported)"
                )
            pieces = [p for p in (top, core, bottom) if p is not None]
            stacked = np.vstack(pieces) if len(pieces) > 1 else core
            result = fn(stacked)
            if result.shape != stacked.shape:
                raise ValueError(
                    "map_overlap: fn must be shape-preserving, got "
                    f"{result.shape} for input {stacked.shape}"
                )
            t = 0 if top is None else top.shape[0]
            b = result.shape[0] - (0 if bottom is None else bottom.shape[0])
            return _block_table(tbi, bj, result[t:b])

        out_df = (
            _source(self).mapInArrow(emit, "tbi int, bj int, role int, data binary")
            .groupBy("tbi", "bj")
            .applyInArrow(assemble, BLOCK_SCHEMA)
        )
        return BlockMatrix(out_df, n, m, br, bc)

    def map_overlap_cols(
        self, fn: Callable[[np.ndarray], np.ndarray], depth: int
    ) -> "BlockMatrix":
        """Axis-1 ghost-cell map — the transpose composition of
        :meth:`map_overlap` (transpose is shuffle-free blockwise
        relabeling, so the only exchange is the halo co-location).  ``fn``
        still receives the block in its ORIGINAL orientation with ``depth``
        extra columns attached left/right."""
        return self.transpose().map_overlap(
            lambda x: np.ascontiguousarray(fn(np.ascontiguousarray(x.T)).T), depth
        ).transpose()

    def diagonal(self) -> np.ndarray:
        """Main diagonal as a driver vector (``da.diagonal`` for the
        square/rectangular main-diagonal case) — the usual post-factorization
        probe (diag(R), diag(AᵀA)).  Blocks off the diagonal band are
        pruned JVM-SIDE; the driver receives O(min(n,m)) doubles."""
        br, bc, g = self.block_rows, self.block_cols, self.layout
        k = min(self.n_rows, self.n_cols)

        def part(batches) -> Iterator:
            import pyarrow as pa

            schema = pa.schema([("g0", pa.int64()), ("v", pa.binary())])
            for rb in batches:
                out: dict[str, list] = {"g0": [], "v": []}
                for bi, bj, blk in g.blocks(rb):
                    r, c = blk.shape
                    r0, c0 = bi * br, bj * bc
                    lo = max(r0, c0)
                    hi = min(r0 + r, c0 + c, k)
                    if hi <= lo:
                        continue
                    idx = np.arange(lo, hi)
                    out["g0"].append(lo)
                    out["v"].append(
                        np.ascontiguousarray(blk[idx - r0, idx - c0]).tobytes()
                    )
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        # JVM-side band pruning: a block intersects the diagonal iff its
        # row and column ranges overlap
        banded = _source(self).filter(
            (F.col("bi") * br < (F.col("bj") + 1) * bc)
            & (F.col("bj") * bc < (F.col("bi") + 1) * br)
        )
        out = np.zeros(k)
        for row in banded.mapInArrow(part, "g0 long, v binary").collect():
            v = np.frombuffer(row.v)
            out[row.g0 : row.g0 + len(v)] = v
        return out

    def argmax(self) -> tuple[int, int]:
        """(row, col) of the maximum element — ``da.argmax`` (flat-index
        variant is ``r * n_cols + c``).  Per-block local argmax, then one
        grid-sized candidate table to the driver; ties resolve to the
        lowest flat index, matching numpy."""
        return self._arg_reduce(True)

    def argmin(self) -> tuple[int, int]:
        """(row, col) of the minimum element — ``da.argmin``."""
        return self._arg_reduce(False)

    def _arg_reduce(self, take_max: bool) -> tuple[int, int]:
        br, bc, n, m = self.block_rows, self.block_cols, self.n_rows, self.n_cols
        g = self.layout

        def part(batches) -> Iterator:
            import pyarrow as pa

            schema = pa.schema(
                [("r", pa.int64()), ("c", pa.int64()), ("v", pa.float64())]
            )
            for rb in batches:
                out: dict[str, list] = {"r": [], "c": [], "v": []}
                for bi, bj, blk in g.blocks(rb):
                    c = blk.shape[1]
                    flat = int(np.argmax(blk) if take_max else np.argmin(blk))
                    out["r"].append(bi * br + flat // c)
                    out["c"].append(bj * bc + flat % c)
                    out["v"].append(float(blk.flat[flat]))
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        if n == 0 or m == 0:
            raise ValueError("argmax/argmin of an empty matrix")
        cands = [
            (row.r, row.c, row.v)
            for row in _source(self).mapInArrow(part, "r long, c long, v double").collect()
        ]
        # absent blocks ≡ zero (the convention to_numpy/matmul/cumsum honor):
        # the FIRST absent block's origin is the lowest-flat-index zero
        # candidate, and per-block argmax already returns each present
        # block's lowest-flat-index extremum, so the global tie-break below
        # stays numpy-exact
        present = {(r // br, c // bc) for r, c, _ in cands}
        if len(present) < self.grid_rows * self.grid_cols:
            first_absent = next(
                (bi, bj)
                for bi in range(self.grid_rows)
                for bj in range(self.grid_cols)
                if (bi, bj) not in present
            )
            cands.append((first_absent[0] * br, first_absent[1] * bc, 0.0))
        # NaN propagation (ADVICE r5): python's `>` makes a NaN candidate
        # lose every comparison, silently diverging from numpy — np.argmax/
        # argmin return the FIRST NaN position.  Per-block argmax already
        # returns each block's first NaN (local row-major ≡ global row-major
        # within a block), so the global first NaN is the lowest-flat-index
        # NaN candidate.
        nan_cands = [(r, c) for r, c, v in cands if v != v]
        if nan_cands:
            return min(nan_cands, key=lambda rc: rc[0] * m + rc[1])
        best = None
        for r, c, v in cands:
            key = (v, -(r * m + c)) if take_max else (-v, -(r * m + c))
            if best is None or key > best[0]:
                best = (key, (r, c))
        return best[1]

    def qr(self, force_panels: bool = False) -> tuple["BlockMatrix", np.ndarray]:
        """General (multi-block-column) QR — the reference's own QR example
        is a WIDE grid, 128×128 with 16×16 chunks
        (docs/examples/examples.rst:62-70); round 1 only shipped the
        tall-skinny path (VERDICT r1 missing #1/#2).

        Strategy ladder (fewest sequential rounds first):

        - grid_cols == 1 → TSQR directly.
        - n_cols ≤ QR_SINGLE_PANEL_MAX → horizontally re-block to one wide
          block column (one shuffle) + TSQR.  Spark-first: one shuffle +
          one tree factorization beats any panel loop, and a bs×4096 block
          is only ~a few hundred MB of Arrow batch.
        - wider → panel-wise block classical Gram-Schmidt with full
          reorthogonalization (CGS2) + TSQR per panel:
            1. S = Q_prefixᵀ·A_j — one distributed pass against the whole
               accumulated prefix, small (cols_done × panel_width) factor
            2. W = A_j − Q_prefix·S — per-row-block join + accumulate
            3. repeat 1–2 once ("twice is enough": one CGS pass loses
               orthogonality at O(ε·κ²), the second restores O(ε))
            4. TSQR(W) → Q_j (distributed), R_jj (driver)
          Panel Qs are checkpointed (every later panel joins against
          them; CGS lineage would otherwise deepen quadratically), and so
          is each re-orthogonalized W, freed once its panel Q has
          materialized.  The panel checkpoints back Q and are registered
          for harness release.

        R (n_cols × n_cols) assembles on the driver from small factors —
        never O(matrix).  Requires n_rows ≥ n_cols and full column rank
        (rank-deficient panels would make TSQR's Q an arbitrary orthonormal
        completion — the restriction dask's qr carries in practice).
        ``force_panels`` pins the CGS2 path (tests).
        """
        if self.grid_cols == 1:
            return self.tsqr()
        assert self.n_rows >= self.n_cols, "qr: requires n_rows >= n_cols"
        if not force_panels and self.n_cols <= QR_SINGLE_PANEL_MAX:
            return self.reblock_single_column().tsqr()
        n, m = self.n_rows, self.n_cols
        br, bc = self.block_rows, self.block_cols
        r_mat = np.zeros((m, m))
        qpref: "BlockMatrix | None" = None
        panel_dfs: list[DataFrame] = []
        with Checkpoints() as ck:
            ck.persist(self.df)
            for j in range(self.grid_cols):
                cj = min(bc, m - j * bc)
                w = BlockMatrix(
                    self.df.filter(F.col("bj") == j).withColumn("bj", F.lit(0)),
                    n, cj, br, cj,
                )
                if qpref is not None:
                    done = qpref.n_cols
                    s_total = np.zeros((done, cj))
                    for _ in range(2):  # CGS2: project, then re-project
                        s = qpref.transpose_matvec(w)
                        s_total += s
                        w = _subtract_panel_projection(qpref, w, s)
                    r_mat[:done, j * bc : j * bc + cj] = s_total
                    w = BlockMatrix(ck(w.df), n, cj, br, cj)
                qj, rjj = w.tsqr()
                r_mat[j * bc : j * bc + cj, j * bc : j * bc + cj] = rjj
                qj_df = ck(qj.df.withColumn("bj", F.lit(j)))
                qj.release()  # checkpoint materialized — free tsqr's stage 1
                ck.free(w.df)
                panel_dfs.append(qj_df)
                grown = qj_df if qpref is None else qpref.df.unionByName(qj_df)
                qpref = BlockMatrix(grown, n, j * bc + cj, br, bc)
            out = ck.keep(panel_dfs[0])
            for p in panel_dfs[1:]:
                out = out.unionByName(ck.keep(p))
        return BlockMatrix(out, n, m, br, bc), r_mat

    def svd_tall_skinny(self) -> tuple["BlockMatrix", np.ndarray, np.ndarray]:
        """SVD for tall-skinny A via the Gramian (README.md:204-225).

        AᵀA = V Σ² Vᵀ on the driver (c×c eigh), U = A·V·Σ⁻¹ blockwise.
        Returns (U BlockMatrix, s (c,), Vt (c×c)).
        """
        # persist across gramian + U projection; released before return —
        # U is lazy, so callers that materialize U later re-run the input
        # lineage (deterministic); persist the input themselves to avoid it.
        # SEED-GENERATED inputs have nothing to persist (VERDICT r5 #3): the
        # kernels read key rows, never df, so callers that only need σ run
        # the whole factorization as ONE pass — the gramian regenerates
        # blocks in-task and A never materializes.  A/B at the
        # 200000×1000/6250 ref dims (interleaved, 4 passes): fused
        # 3.9-9.4 s vs persist 4.9-26.3 s, plus zero cache footprint.
        # An input the caller already persisted stays theirs to free.
        persisted = self.gen_seed is None and self.df.storageLevel == StorageLevel.NONE
        if persisted:
            self.df.persist()
        g = self.gramian()
        evals, evecs = np.linalg.eigh(g)
        order = np.argsort(evals)[::-1]
        evals, evecs = evals[order], evecs[:, order]
        s = np.sqrt(np.clip(evals, 0, None))
        inv_s = np.where(s > 1e-12, 1.0 / s, 0.0)
        proj = evecs * inv_s[None, :]
        u = self._map_blocks(lambda b: b @ proj)
        if persisted:
            self.df.unpersist()
        return u, s, evecs.T

    def svd_compressed(
        self, k: int, seed: int = 0, oversample: int = 10, n_iter: int = 1
    ) -> tuple["BlockMatrix", np.ndarray, np.ndarray]:
        """Randomized SVD (da.linalg.svd_compressed — README.md:227-248,
        examples/svd2.py).  Halko-Martinsson-Tropp sketch:

        Y = A·Ω (Ω broadcast, m×(k+p))  →  TSQR(Y) → Q
        B = Qᵀ·A  ((k+p)×m, driver)      →  SVD(B) → Ũ, s, Vt
        U = Q·Ũ (blockwise)

        Power iterations (n_iter) sharpen the spectrum for slowly-decaying
        singular values; dask's default is 0 (`da.linalg.svd_compressed`
        n_power_iter=0) — we default to 1, trading one extra distributed
        pass for a tighter HMT error envelope on noisy spectra.
        """
        p = k + oversample
        rng = np.random.default_rng(seed)
        omega = rng.standard_normal((self.n_cols, p))
        # A is read by the sketch, every power iteration, and the final
        # projection (~2+2·n_iter jobs) — persist once instead of re-running
        # its lineage (e.g. the random generator) per job.  SEED-GENERATED
        # inputs skip the persist: every kernel reads their key rows and
        # regenerates blocks in-task, so A's payloads never cross the
        # JVM↔Python boundary at all.  (An earlier persist-skip WITHOUT
        # in-task fusion measured SLOWER than persist — 4.7-13.5 s vs
        # 3.8-6.9 s at the 10000²/1000 ref dims — because each pass still
        # shipped 800 MB through the JVM twice; fused measures below both.)
        # An input the caller already persisted stays theirs to free.
        fused = self.gen_seed is not None
        persisted = not fused and self.df.storageLevel == StorageLevel.NONE
        if persisted:
            self.df.persist()

        def sketch(mat: "BlockMatrix", w: np.ndarray) -> "BlockMatrix":
            """Y = mat @ w with w broadcast to every block; sum over bj."""
            g, bc, ddl = mat.layout, mat.block_cols, "bi int, k int, data binary"

            def part(batches) -> Iterator:
                import pyarrow as pa

                schema = _pa_schema(ddl)
                for rb in batches:
                    out: dict[str, list] = {"bi": [], "k": [], "data": []}
                    for bi, bj, blk in g.blocks(rb):
                        out["bi"].append(bi)
                        out["k"].append(bj)
                        out["data"].append(
                            np.dot(blk, w[bj * bc : bj * bc + blk.shape[1], :]).tobytes()
                        )
                    yield pa.RecordBatch.from_pydict(out, schema=schema)

            partials = _source(mat).mapInArrow(part, ddl)
            ydf = _sum_by_key(partials, "bi", "k", "data").select(
                "bi", F.lit(0).alias("bj"), "data"
            )
            return BlockMatrix(ydf, mat.n_rows, w.shape[1], mat.block_rows, w.shape[1])

        if fused:
            # r18 (VERDICT r17 Next #6): ONE generation pass per sketch.
            # Y's row-block Yᵢ depends only on A's row i, so a task that
            # generates the row once folds Yᵢ = Σⱼ Aᵢⱼ·Wⱼ AND emits the
            # projection partials AᵢⱼᵀYᵢ from the same buffers
            # (_sketch_project_gen) — the separate transpose_matvec pass
            # over A disappears.  B = QᵀA then needs NO further pass
            # either: Y = QR gives QᵀA = R⁻ᵀ·(AᵀY)ᵀ with Z = AᵀY already
            # on the driver.  The triangular solve shifts σ by ≤ 1e-12 on
            # every declared workload while the rounded-integer oracle
            # margins are ≥ 5.9e-3 (tools/svd_fused_margin_audit.py) —
            # the same drift class _sigma_rows already budgets for.
            # Generation passes over A: 2 → 1 (n_iter=0), 4 → 2 (n_iter=1).
            w = omega
            z = None
            for _ in range(n_iter):
                # intermediate Y is consumed by nothing (only Z feeds the
                # driver-side QR) — skip emitting it entirely
                _, z = self._sketch_project_gen(w, want_y=False)
                w, _ = np.linalg.qr(z, mode="reduced")
            y, z = self._sketch_project_gen(w, want_y=True)
            q, r_final = y.tsqr()
            # tsqr's persisted stage 1 now backs Q; the fused pass's
            # combined Y/Z output has no further reader
            y.release()
            diag = np.abs(np.diag(r_final))
            if diag.min() > 1e-10 * max(float(diag.max()), 1.0):
                b = np.linalg.solve(r_final.T, z.T)  # R⁻ᵀ·Zᵀ = QᵀA
            else:
                # near-rank-deficient sketch: R⁻ᵀ is ill-conditioned —
                # fall back to the explicit projection pass
                b = self.transpose_matvec(q).T
        else:
            y = sketch(self, omega)
            for _ in range(n_iter):
                # subspace iteration with DRIVER-side stabilization: the
                # m×p factor Z = AᵀY is small, so its QR runs locally —
                # only the final Y needs a distributed TSQR (saves 1
                # distributed factorization per iteration vs.
                # orthonormalizing Y each round)
                z = self.transpose_matvec(y)  # (m × p) on driver
                z, _ = np.linalg.qr(z, mode="reduced")
                y = sketch(self, z)
            q, _ = y.tsqr()
            b = self.transpose_matvec(q).T  # B = Qᵀ A, (p × m) on driver
        ub, s, vt = np.linalg.svd(b, full_matrices=False)
        u = q._map_blocks(lambda blk: blk @ ub[:, :k], out_cols=k)
        # U reads q (backed by tsqr's persisted stage 1) — transfer the
        # release handle so the CALLER frees it after materializing U
        # (releasing here would force U to re-run the whole sketch chain)
        u._cached_deps = getattr(q, "_cached_deps", [])
        # released before return (same contract as svd_tall_skinny): U is
        # lazy; a caller that materializes U re-runs the input lineage —
        # persist the input (or U) yourself if you need U cheap
        if persisted:
            self.df.unpersist()
        return u, s[:k], vt[:k, :]

    def _sketch_project_gen(
        self, w: np.ndarray, want_y: bool
    ) -> tuple["BlockMatrix | None", np.ndarray]:
        """One generation pass computing BOTH Y = A·W and Z = AᵀY for a
        seed-generated A (r18, VERDICT r17 Next #6 — svd_compressed's
        sketch + projection used to regenerate every block of A twice).

        One task per block-row: resolve row i's blocks ONCE (ascending
        bj), fold Yᵢ = Σⱼ Aᵢⱼ·Wⱼ in that same order — bit-identical to the
        unfused sketch's sorted-k :func:`_sum_by_key` merge — then emit
        the projection partials AᵢⱼᵀYᵢ from the still-held buffers.  The
        Z partials reduce executor-side through transpose_matvec's
        accumulator (:func:`_sum_partials`: bi-ascending copy-then-add per
        column block), so the driver receives grid_cols rows, not one per
        block.

        want_y=False (intermediate power iterations: only Z feeds the
        next driver-side QR) skips emitting Y, so nothing is persisted.
        want_y=True persists the combined output (two readers: the Z
        reduction and tsqr's stage 1 over Y); the returned Y carries the
        persist handle in _cached_deps for release().

        Per-task memory holds one block-row of A (grid_cols blocks,
        ≤ 80 MB at the declared workloads); a cluster-scale row wider than
        worker memory would tile the fold by column groups — the task
        count is grid_rows either way, which at scale dwarfs the core
        count (fewer, fatter tasks also amortize the ~0.3 s Python task
        round-trip that dominates these small-block stages locally).
        The whole-row task is why this reads key ids, not _source rows.
        """
        assert self.gen_seed is not None
        g = self.layout
        gr, nbc, bc = self.grid_rows, self.grid_cols, self.block_cols
        p = w.shape[1]

        def row_pass(batches) -> Iterator:
            import pyarrow as pa

            schema = pa.schema(
                [
                    ("kind", pa.int32()),
                    ("i", pa.int32()),
                    ("j", pa.int32()),
                    ("data", pa.binary()),
                ]
            )
            for rb in batches:
                out: dict[str, list] = {"kind": [], "i": [], "j": [], "data": []}
                for bi in rb.column("id").to_pylist():
                    blks = [g.resolve(None, bi, bj) for bj in range(nbc)]
                    total = None
                    for bj, blk in enumerate(blks):
                        part = np.dot(blk, w[bj * bc : bj * bc + blk.shape[1], :]).ravel()
                        total = part.copy() if total is None else total + part
                    y_bi = total.reshape(blks[0].shape[0], p)
                    if want_y:
                        out["kind"].append(0)
                        out["i"].append(bi)
                        out["j"].append(0)
                        out["data"].append(y_bi.tobytes())
                    for bj, blk in enumerate(blks):
                        out["kind"].append(1)
                        out["i"].append(bj)
                        out["j"].append(bi)
                        out["data"].append(np.dot(blk.T, y_bi).tobytes())
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        spark = self.df.sparkSession
        fdf = spark.range(
            0, gr, 1, min(gr, spark.sparkContext.defaultParallelism)
        ).mapInArrow(row_pass, "kind int, i int, j int, data binary")
        if want_y:
            fdf = fdf.persist()
        zparts = fdf.filter(F.col("kind") == 1).select(
            F.col("i").alias("bj"), F.col("j").alias("k"), F.col("data").alias("z")
        )
        z = _sum_partials(zparts, self.n_cols, bc, p)
        if not want_y:
            return None, z
        ydf = fdf.filter(F.col("kind") == 0).select(
            F.col("i").alias("bi"), F.col("j").alias("bj"), "data"
        )
        y = BlockMatrix(ydf, self.n_rows, p, self.block_rows, p)
        y._cached_deps = [fdf]
        return y, z

    def transpose_matvec(self, other: "BlockMatrix") -> np.ndarray:
        """Aᵀ·Y for conformable tall-skinny Y (few cols) → small driver array.

        Computed as a single joined pass: per (bi) pair AᵢᵀYᵢ, summed
        executor-side per block column (:func:`_sum_partials`) — never
        materializes Aᵀ.  Y is n×p with small p: it is broadcast when it
        fits, so the heavy AᵢᵀYᵢ stage runs map-side at A's source
        parallelism (the bi join key has only grid_rows distinct values; a
        shuffle join would cap the stage at that).  An absent Y block
        drops its pairs from the inner join — zero contribution, the
        absent-block ≡ zero convention.
        """
        assert self.n_rows == other.n_rows and self.block_rows == other.block_rows
        assert other.grid_cols == 1, "transpose_matvec: Y must be one block wide"
        p = other.n_cols
        ga, gy = self.layout, other.layout
        ydf = _source(other)
        if other.n_rows * p * 8 <= BROADCAST_CAP:
            ydf = F.broadcast(ydf)
        joined = _source(self).alias("a").join(
            ydf.alias("y"), F.col("a.bi") == F.col("y.bi")
        ).select(
            F.col("a.bi").alias("bi"),
            F.col("a.bj").alias("bj"),
            F.col("a.data").alias("data"),
            F.col("y.data").alias("dy"),
        )

        ddl = "bj int, k int, z binary"

        def part(batches) -> Iterator:
            import pyarrow as pa

            schema = _pa_schema(ddl)
            for rb in batches:
                dy_c = rb.column("dy")
                out: dict[str, list] = {"bj": [], "k": [], "z": []}
                for i, (bi, bj, a) in enumerate(ga.blocks(rb)):
                    yv = gy.resolve(dy_c[i], bi, 0)
                    out["bj"].append(bj)
                    out["k"].append(bi)
                    out["z"].append(np.dot(a.T, yv).tobytes())
                yield pa.RecordBatch.from_pydict(out, schema=schema)

        partials = joined.mapInArrow(part, ddl)
        return _sum_partials(partials, self.n_cols, self.block_cols, p)

    def lstsq(self, b: "BlockMatrix") -> np.ndarray:
        """Least-squares solve argmin_X ‖A·X − B‖_F for tall-skinny A —
        ``da.linalg.lstsq`` parity (dask routes it through the same TSQR
        this uses).

        QR path, numerically stable vs. normal equations: TSQR gives Q
        (distributed) and R (c×c, driver); X = R⁻¹·(QᵀB) with QᵀB reduced
        distributed by transpose_matvec.  The driver only ever holds
        c×c / c×k factors.  B must share A's row blocking (one block
        wide) — the natural layout for a label/target matrix.

        Callers that also read A elsewhere should persist it (tsqr makes
        two passes)."""
        assert self.n_rows == b.n_rows and self.block_rows == b.block_rows
        q, r = self.qr()  # strategy ladder: TSQR / re-block+TSQR / CGS2
        qtb = q.transpose_matvec(b)
        q.release()  # QᵀB is materialized — free tsqr's stage-1 persist
        return np.linalg.solve(r, qtb)

    def solve_triangular(
        self, b: np.ndarray, lower: bool = True, transpose: bool = False
    ) -> np.ndarray:
        """Blocked triangular substitution L·X = B (or Lᵀ·X = B with
        ``transpose=True``) for a square-blocked triangular matrix in the
        cholesky_blocked layout (absent off-triangle blocks ≡ zero) and a
        DRIVER-HELD narrow RHS (n×k, small k — the post-factorization
        use; ``da.linalg.solve_triangular`` parity and the substitution
        half of ``da.linalg.solve``).

        Sequential over block rows — the inherent dependency of
        substitution — but each round is ONE distributed job over that
        block row/column: the solved X prefix ships once per executor
        (sc.broadcast, released after the round — never in task
        closures), tasks return O(bs·k) partial products plus the tagged
        diagonal block, and the driver never holds more than one bs×bs
        block.  ~grid small jobs per sweep, the same latency-bound shape
        as the cholesky loop that produces L."""
        assert self.n_rows == self.n_cols and self.block_rows == self.block_cols
        bs, n = self.block_rows, self.n_rows
        gr = self.grid_rows
        sc = self.df.sparkSession.sparkContext
        src, g = _source(self), self.layout
        k = b.shape[1] if b.ndim == 2 else 1
        b2 = b.reshape(n, k).astype(np.float64)
        x = np.zeros((n, k))
        forward = lower != transpose  # Lᵀ on lower storage solves backward
        order = range(gr) if forward else range(gr - 1, -1, -1)
        solved: list[int] = []
        for i in order:
            ri = min(bs, n - i * bs)
            if not transpose:
                band = src.filter(
                    (F.col("bi") == i) & (F.col("bj").isin(solved) | (F.col("bj") == i))
                )
            else:  # Lᵀ_ij = (L_ji)ᵀ — read column i of the stored blocks
                band = src.filter(
                    (F.col("bj") == i) & (F.col("bi").isin(solved) | (F.col("bi") == i))
                )
            bc = sc.broadcast(
                {int(j): x[j * bs : j * bs + min(bs, n - j * bs), :] for j in solved}
            )
            tr, cur = transpose, i

            def part(batches, _bc=bc, _tr=tr, _i=cur) -> Iterator:
                import pyarrow as pa

                schema = pa.schema([("kind", pa.int32()), ("p", pa.binary())])
                xs = _bc.value
                for rb in batches:
                    acc = None
                    diag = None
                    for bi, bj, blk in g.blocks(rb):
                        if bi == _i and bj == _i:
                            diag = blk.tobytes()
                            continue
                        contrib = blk.T @ xs[bi] if _tr else blk @ xs[bj]
                        acc = contrib if acc is None else acc + contrib
                    out: dict[str, list] = {"kind": [], "p": []}
                    if acc is not None:
                        out["kind"].append(0)
                        out["p"].append(np.ascontiguousarray(acc).tobytes())
                    if diag is not None:
                        out["kind"].append(1)
                        out["p"].append(diag)
                    if out["kind"]:
                        yield pa.RecordBatch.from_pydict(out, schema=schema)

            s = np.zeros((ri, k))
            diag = None
            for row in band.mapInArrow(part, "kind int, p binary").collect():
                if row.kind == 1:
                    diag = np.frombuffer(row.p).reshape(ri, ri)
                else:
                    s += np.frombuffer(row.p).reshape(ri, k)
            bc.unpersist()
            rhs = b2[i * bs : i * bs + ri, :] - s
            # contract check (ADVICE r5): a filtered/sparse/non-conforming
            # input may simply not contain block (i,i); without this the
            # failure surfaces later as an opaque AttributeError on None
            if diag is None:
                raise ValueError(
                    f"solve_triangular: no diagonal block ({i},{i}) in the "
                    "input — triangular solve requires every diagonal block "
                    "to be present (absent-as-zero would be singular)"
                )
            if transpose:
                diag = diag.T
            # dense bs×bs triangular back-substitution on the driver — the
            # sequential pivot, same role as cholesky's diagonal factor
            x[i * bs : i * bs + ri, :] = np.linalg.solve(diag, rhs)
            solved.append(i)
        return x if b.ndim == 2 else x.ravel()


def solve_spd(a: "BlockMatrix", b: np.ndarray) -> np.ndarray:
    """A·X = B for a distributed SPD matrix and a driver-held narrow RHS —
    ``da.linalg.solve`` (SPD case): Cholesky factorization (distributed)
    followed by the two triangular substitutions.  The driver only ever
    holds bs×bs diagonal blocks and the n×k solution."""
    l_bm = cholesky_blocked(a)
    l_bm.df.persist()  # read by both substitution sweeps
    y = l_bm.solve_triangular(b, lower=True)
    x = l_bm.solve_triangular(y, lower=True, transpose=True)
    l_bm.df.unpersist()
    return x


def _subtract_panel_projection(
    q: BlockMatrix, w: BlockMatrix, s: np.ndarray
) -> BlockMatrix:
    """W − Q·S for one-block-wide W against a multi-block-column Q with the
    same row blocking; S is the small (q.n_cols × w.n_cols) driver factor
    shipped in the task closure.  One shuffle: Q joins W on the row-block
    index and partials subtract per row block in ascending Q block column
    — the CGS projection step of BlockMatrix.qr, never O(matrix) on the
    driver."""
    bc, gq, gw = q.block_cols, q.layout, w.layout
    joined = _source(q).alias("q").join(
        _source(w).alias("w"), F.col("q.bi") == F.col("w.bi")
    ).select(
        F.col("q.bi").alias("bi"),
        F.col("q.bj").alias("qj"),
        F.col("q.data").alias("dq"),
        F.col("w.data").alias("dw"),
    )

    def proj(key, t):
        bi = key[0].as_py()
        acc = gw.resolve(t.column("dw")[0], bi, 0).copy()
        pairs = zip(t.column("qj").to_pylist(), t.column("dq"))
        for qj, dq in sorted(pairs, key=lambda pair: pair[0]):
            qb = gq.resolve(dq, bi, qj)
            acc -= qb @ s[qj * bc : qj * bc + qb.shape[1], :]
        return _block_table(bi, 0, acc)

    return BlockMatrix(
        joined.groupBy("bi").applyInArrow(proj, BLOCK_SCHEMA),
        w.n_rows, w.n_cols, w.block_rows, w.n_cols,
    )


def _factor_right_looking(
    a: BlockMatrix, factor: Callable, symmetric: bool
) -> tuple[BlockMatrix, ...]:
    """THE distributed blocked right-looking factorization loop of
    `cholesky_blocked` and `lu_blocked` (docs/examples/examples.rst:84-100).

    Driver-coordinated loop over block columns; everything O(matrix) stays
    on the cluster — the driver only ever holds ONE bs×bs diagonal block
    (the round-1 variant collected all of A; VERDICT r1 fix #1):

      step j: 1. collect the updated diagonal block A_jj and factor it on
                 the driver with ``factor`` (the sequential pivot of every
                 blocked variant, dask's included)
              2. panel solves, one mapInArrow each, embarrassingly
                 parallel: L_ij = A_ij · U_jj⁻¹ over the column panel
                 (i > j) and U_jk = L_jj⁻¹ · A_jk over the row panel
                 (k > j)
              3. trailing update A_ik -= L_ij · U_jk — while the panels
                 fit the BROADCAST_CAP gate they ship once as ONE
                 sc.broadcast and the update is a JOIN-FREE mapInArrow
                 (measured r5 at 6000²/500: 13.8-17.2 s vs 16.0-37.5 s
                 for the F.broadcast equi-join, whose two per-step
                 exchange builds were slower, far noisier and funneled
                 the panel through the driver twice); past the gate, an
                 equi-join of the panels onto the trailing blocks on bi
                 and bj — no driver funnel, the SUMMA shuffle shape
                 restricted to the trailing submatrix

    ``symmetric`` (Cholesky) runs on the lower triangle with no row panel:
    U_jj is L_jjᵀ, and U_jk is read as L_kjᵀ, so the update computes
    ``lij @ lkj.T``.

    Checkpoints truncate each step's lineage, so step j+1 reads
    materialized blocks instead of re-running steps 0..j (the
    exponential-lineage hazard of iterative Spark plans).  The step loop
    is latency-bound, not work-bound (r17 opt round: each driver round
    trip is a whole job), so every trailing and panel checkpoint is LAZY
    and is materialized by the step's own unavoidable collect — the next
    diagonal fetch materializes the trailing update, the broadcast collect
    its panel.  Lazy is safe while a checkpoint's first action reads it
    once; the symmetric join path's update reads its ONE panel twice
    (li ⋈ lk), which would recompute the solve per reference, so that
    panel stays eager.  (A fused panel+update single-stage variant was
    measured SLOWER at 2000²/500.)

    A superseded trailing checkpoint and its panel broadcast are freed as
    soon as the successor materializes — releasing earlier loses blocks
    the pending update still reads — so they queue in ``deferred`` and
    drain after each diagonal collect.  One `Checkpoints` scope owns the
    checkpoints and broadcasts: every exit frees the trailing checkpoint
    and the broadcasts, and a raise (a non-SPD or zero-pivot diagonal
    block) frees the panels too.  On return the panels BACK the factors
    and are kept for harness release (leak audit r15).

    Returns one BlockMatrix per array ``factor`` returns: its diagonal
    blocks plus its panels; absent off-triangle blocks ≡ zero.
    """
    assert a.n_rows == a.n_cols and a.block_rows == a.block_cols
    spark = a.df.sparkSession
    sc = spark.sparkContext
    n, bs, nb = a.n_rows, a.block_rows, a.grid_rows
    g = _Layout(n, n, bs, bs)  # every step reads materialized checkpoints
    src = a.df.filter(F.col("bi") >= F.col("bj")) if symmetric else a.df
    diags: list[tuple] = []  # per step, the diagonal blocks of each factor
    panels: tuple[list, list] = ([], [])  # column panels, row panels
    deferred: list = []  # [(superseded checkpoint DF, panel broadcast|None)]

    def drain() -> None:
        for df_, bc_ in deferred:
            ck.free(bc_, df_)
        deferred.clear()

    def assemble(blocks: list, parts: list) -> BlockMatrix:
        # block-count-capped slices for the tiny diagonal frame (r18): the
        # createDataFrame default would add defaultParallelism near-empty
        # partitions to every consumer of the factor (see from_numpy)
        rdd = sc.parallelize(blocks, max(1, len(blocks)))
        out = spark.createDataFrame(rdd, BLOCK_SCHEMA)
        for p in parts:
            out = out.unionByName(ck.keep(p))
        return BlockMatrix(out, n, n, bs, bs)

    with Checkpoints() as ck:
        remaining = ck(src, eager=False)
        for j in range(nb):
            # materializes the pending lazy trailing checkpoint (and, step
            # 0, the initial checkpoint) as part of this collect's job
            row = remaining.filter((F.col("bi") == j) & (F.col("bj") == j)).collect()[0]
            drain()
            r = min(bs, n - j * bs)
            diags.append(factor(np.frombuffer(row.data).reshape(r, r)))
            if j == nb - 1:
                break
            inv = [np.linalg.inv(f) for f in diags[-1]]
            col_w = np.ascontiguousarray(inv[-1].T if symmetric else inv[-1])
            row_w = np.ascontiguousarray(inv[0])

            def solve(bi, bj, blk, _j=j, _cw=col_w, _rw=row_w):
                return bi, bj, np.dot(blk, _cw) if bj == _j else np.dot(_rw, blk)

            n_panels = 1 if symmetric else 2
            broadcast = n_panels * (nb - j - 1) * bs * bs * 8 <= BROADCAST_CAP
            col_src = remaining.filter((F.col("bj") == j) & (F.col("bi") > j))
            lp = ck(_blockwise(col_src, g, solve), eager=symmetric and not broadcast)
            panels[0].append(lp)
            up = lp
            if not symmetric:
                row_src = remaining.filter((F.col("bi") == j) & (F.col("bj") > j))
                up = ck(_blockwise(row_src, g, solve), eager=False)
                panels[1].append(up)

            trailing = remaining.filter((F.col("bi") > j) & (F.col("bj") > j))
            bc = None
            if broadcast:
                lmap = {r_.bi: bytes(r_.data) for r_ in lp.collect()}
                if symmetric:  # U_jk is L_kjᵀ: the column panel keyed by k
                    umap = lmap
                else:
                    umap = {r_.bj: bytes(r_.data) for r_ in up.collect()}
                bc = ck.persist(sc.broadcast((lmap, umap)))
            else:
                li = lp.select(F.col("bi").alias("pi"), F.col("data").alias("dl"))
                uk = up.select(
                    F.col("bi" if symmetric else "bj").alias("pk"),
                    F.col("data").alias("du"),
                )
                trailing = (
                    trailing.join(li, F.col("bi") == F.col("pi"))
                    .join(uk, F.col("bj") == F.col("pk"))
                    .select("bi", "bj", "data", "dl", "du")
                )

            def update(batches, _bc=bc) -> Iterator:
                import pyarrow as pa

                schema = _pa_block_schema(pa)
                maps = None if _bc is None else _bc.value
                for rb in batches:
                    if maps is None:  # join path: the row carries its panel blocks
                        dl_c, du_c = rb.column("dl"), rb.column("du")
                    out: dict[str, list] = {"bi": [], "bj": [], "data": []}
                    for i, (bi, bj, aik) in enumerate(g.blocks(rb)):
                        ri, rk = aik.shape
                        if maps is None:
                            lb, ub = dl_c[i].as_buffer(), du_c[i].as_buffer()
                        else:
                            lb, ub = maps[0][bi], maps[1][bj]
                        lij = np.frombuffer(lb, dtype=np.float64).reshape(ri, -1)
                        ujk = np.frombuffer(ub, dtype=np.float64)
                        ujk = ujk.reshape(rk, -1).T if symmetric else ujk.reshape(-1, rk)
                        out["bi"].append(bi)
                        out["bj"].append(bj)
                        out["data"].append((aik - lij @ ujk).tobytes())
                    yield pa.RecordBatch.from_pydict(out, schema=schema)

            # the update job has not run yet — it still reads the current
            # checkpoint and the broadcast; both free after the NEXT collect
            deferred.append((remaining, bc))
            remaining = ck(trailing.mapInArrow(update, BLOCK_SCHEMA), eager=False)
        return tuple(
            assemble([(j, j, d[k].tobytes()) for j, d in enumerate(diags)], panels[k])
            for k in range(len(diags[0]))
        )


def cholesky_blocked(a: BlockMatrix) -> BlockMatrix:
    """DISTRIBUTED blocked right-looking Cholesky
    (docs/examples/examples.rst:84-100): `_factor_right_looking` on the
    lower triangle (A symmetric), with a bs×bs dense Cholesky of each
    diagonal block on the driver.

    Returns L as a BlockMatrix of the lower-triangle blocks; absent upper
    blocks ≡ zero (matmul/to_numpy treat missing blocks as zero).  Raises
    LinAlgError at the first diagonal block that is not positive
    definite.
    """
    (l_bm,) = _factor_right_looking(
        a, lambda ajj: (np.linalg.cholesky(ajj),), symmetric=True
    )
    return l_bm


def _lu_dense_nopivot(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Dense UNPIVOTED Doolittle LU of one bs×bs diagonal block (the
    sequential pivot of the blocked factorization, the role
    np.linalg.cholesky plays in cholesky_blocked).  Raises on a (near-)
    zero pivot: block LU without pivoting requires nonsingular leading
    principal minors — diagonally dominant / SPD-shifted inputs, the
    same contract dask documents for its blocked solves."""
    m = a.shape[0]
    lu = np.array(a, dtype=np.float64, copy=True)
    scale = max(1.0, float(np.abs(lu).max()))
    for k_ in range(m - 1):
        piv = lu[k_, k_]
        if abs(piv) < 1e-12 * scale:
            raise np.linalg.LinAlgError(
                f"near-zero pivot at {k_}: lu_blocked is unpivoted and "
                "requires nonsingular leading minors (e.g. diagonally "
                "dominant input)"
            )
        lu[k_ + 1 :, k_] /= piv
        lu[k_ + 1 :, k_ + 1 :] -= np.outer(lu[k_ + 1 :, k_], lu[k_, k_ + 1 :])
    if abs(lu[m - 1, m - 1]) < 1e-12 * scale:
        raise np.linalg.LinAlgError("singular diagonal block in lu_blocked")
    l = np.tril(lu, -1) + np.eye(m)
    u = np.triu(lu)
    return l, u


def lu_blocked(a: BlockMatrix) -> tuple[BlockMatrix, BlockMatrix]:
    """DISTRIBUTED blocked right-looking LU (unpivoted) — ``da.linalg.lu``
    parity (r17, VERDICT r16 missing #4): `_factor_right_looking` over the
    whole square with BOTH panels, and `_lu_dense_nopivot` of each
    diagonal block on the driver.

    Unpivoted: requires nonsingular leading principal minors (diagonally
    dominant or SPD-shifted inputs) — the documented contract of every
    blocked no-pivot LU, dask's included; a violating input raises at
    the offending diagonal block rather than returning garbage.

    Returns (L, U): L unit-lower (unit diagonal stored explicitly), U
    upper; absent off-triangle blocks ≡ zero."""
    return _factor_right_looking(a, _lu_dense_nopivot, symmetric=False)


def lu_solve(a: BlockMatrix, b: np.ndarray) -> np.ndarray:
    """A·X = B for a distributed square matrix and a driver-held narrow
    RHS — ``da.linalg.solve`` (general case; `solve_spd` is the SPD fast
    path): blocked LU then the two triangular substitutions, each a
    driver-coordinated sweep of distributed block jobs."""
    l_bm, u_bm = lu_blocked(a)
    l_bm.df.persist()
    u_bm.df.persist()
    try:
        y = l_bm.solve_triangular(b, lower=True)
        return u_bm.solve_triangular(y, lower=False)
    finally:
        l_bm.df.unpersist()
        u_bm.df.unpersist()


def inv_blocked(a: BlockMatrix) -> np.ndarray:
    """``da.linalg.inv`` parity: A⁻¹ via blocked LU against an identity
    RHS.  The result (and the RHS) is an n×n DRIVER array — the inverse
    of a distributed matrix is inherently dense, so this is for the
    modest-n regime (same practical bound as `to_numpy`); to apply A⁻¹
    to data at scale, use `lu_solve`/`solve_spd` on the narrow RHS
    instead of materializing the inverse (the standard guidance dask's
    docs give for its own `inv`)."""
    return lu_solve(a, np.eye(a.n_rows))


def concat_blocks(mats: list, axis: int = 0) -> BlockMatrix:
    """N-ary ``da.concatenate`` (r17): fold every input's pieces into ONE
    emit+stitch shuffle against the first input's blocking — k matrices
    concatenate for the cost of a single rechunk pass over the union,
    never pairwise re-stitching (the pairwise vstack/hstack fold would
    move early inputs k times)."""
    if axis not in (0, 1):
        raise ValueError("axis must be 0 (rows) or 1 (cols)")
    if not mats:
        raise ValueError("concat_blocks requires at least one matrix")
    first = mats[0]
    tbr, tbc = first.block_rows, first.block_cols
    off = 0
    pieces = None
    for m_ in mats:
        if axis == 0:
            assert m_.n_cols == first.n_cols, "column counts must match"
            p = m_._emit_pieces(off, 0, tbr, tbc)
            off += m_.n_rows
        else:
            assert m_.n_rows == first.n_rows, "row counts must match"
            p = m_._emit_pieces(0, off, tbr, tbc)
            off += m_.n_cols
        pieces = p if pieces is None else pieces.unionByName(p)
    n = off if axis == 0 else first.n_rows
    m2 = first.n_cols if axis == 0 else off
    return BlockMatrix._stitch_pieces(pieces, n, m2, tbr, tbc)


def block_grid(nested: list) -> BlockMatrix:
    """``da.block`` for the 2-D surface (r17): assemble a matrix from a
    grid of BlockMatrix tiles (list of rows, each a list of tiles; row
    heights and column widths must conform, as in numpy.block).  ONE
    emit+stitch shuffle for the whole grid — every tile's pieces carry
    their global offset directly, so assembly costs exactly one data
    pass however many tiles there are.  (``da.stack`` adds a new axis —
    on a 2-D engine the equivalent composition is this grid assembly of
    row/column vectors.)"""
    if not nested or not all(isinstance(r_, list) and r_ for r_ in nested):
        raise ValueError("block_grid requires a non-empty 2-D list of tiles")
    widths = [t.n_cols for t in nested[0]]
    first = nested[0][0]
    tbr, tbc = first.block_rows, first.block_cols
    pieces = None
    row_off = 0
    for row_tiles in nested:
        if [t.n_cols for t in row_tiles] != widths:
            raise ValueError("tile column widths must match across rows")
        h = row_tiles[0].n_rows
        col_off = 0
        for t_ in row_tiles:
            if t_.n_rows != h:
                raise ValueError("tile heights must match within a row")
            p = t_._emit_pieces(row_off, col_off, tbr, tbc)
            pieces = p if pieces is None else pieces.unionByName(p)
            col_off += t_.n_cols
        row_off += h
    return BlockMatrix._stitch_pieces(pieces, row_off, sum(widths), tbr, tbc)
