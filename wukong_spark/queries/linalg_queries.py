"""Linear-algebra queries exposed through the driver contract.

Two flavors:
- `embed_gramian` — AᵀA over the embeddings table expressed RELATIONALLY
  (posexplode + join + agg, fully Catalyst-visible) with an exact DuckDB
  oracle.  The BLAS-blocked fast path for the same computation is
  BlockMatrix.gramian (tests/test_blockmatrix.py).
- `la_*` — the reference's flagship chunked-array workloads (GEMM, TSQR,
  tall-skinny SVD, compressed SVD, Cholesky — README.md:204-271,
  docs/examples/examples.rst:46-113) on seeded synthetic block matrices.
  Inputs are generated, not read from tables, so queries whose output is a
  float summary (singular values, block norms) carry no SQL oracle — the
  driver records rows-only checks and the numpy-oracle correctness lives in
  tests/test_blockmatrix.py.  Queries whose output is a DETERMINISTIC
  CONTRACT (orthonormality/reconstruction booleans, ranks, block counts)
  carry literal SELECT oracles so the driver's hash gate verifies them
  end-to-end; the `la_*_check` variants exist to put the float workloads
  behind such contracts too (residuals and cross-algorithm comparisons
  computed IN-PLAN, only the boolean verdict leaves the cluster).

  The correctness gate runs at sf=0.01, where every query below takes its
  scaled-down branch — the literal oracles encode those dims.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from wukong_spark.blockmatrix import BlockMatrix, cholesky_blocked, solve_spd
from wukong_spark.sparse import SparseBlockMatrix
from wukong_spark.queries import query
from wukong_spark.queries.helpers import local_frame, tbl


@query(
    "embed_gramian",
    state_sized=True,
    oracle="""
    WITH ex AS (
      SELECT vec_id, s.i AS i, CAST(embedding[s.i] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) s
      WHERE vec_id < 1000
    )
    SELECT a.i AS i, b.i AS j, ROUND(SUM(a.x * b.x), 6) AS g
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY a.i, b.i
    """,
)
def embed_gramian(spark: SparkSession, sf_dir: str):
    """Gramian AᵀA of the embedding matrix, upper triangle, relational form.

    Shape: posexplode (64 rows per vector) → self-join on vec_id (row-local,
    no skew) → hash agg on (i, j).  All codegen; the pandas-UDF/BLAS variant
    is BlockMatrix.gramian.  Round-6 absorbs summation-order float drift.
    """
    e = tbl(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    ex = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i0", "x"),
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "x")
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.i") <= F.col("b.i")))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.round(F.sum(F.col("a.x") * F.col("b.x")), 6).alias("g"))
    )


def _sf(sf_dir: str) -> float:
    """Scale factor parsed from the driver's sf directory name."""
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return 0.01


def _sigma_rows(spark: SparkSession, s, scale: float = 1000.0):
    """Singular values as (rank, sigma_i) rows, σ·scale floor(+.5)-rounded
    to integers.

    Why integers (VERDICT r5 #2): the σ are deterministic functions of the
    seeded generators, but round-6 DOUBLES sat ~1e-9 from their own
    round-boundaries, so the driver's exact hash gate couldn't safely
    literal-oracle them (`no_oracle` rows).  Summation-order / cross-host
    BLAS drift is ~1e-9·σ ≈ 1e-6 in scaled units, four-plus orders below
    the integer-boundary margin — so floor(σ·scale+.5) is hash-stable
    while still pinning every σ to ~3 decimal places against the literal
    VALUES oracle (a real content check, not just a contract boolean).
    `scale` is chosen per query so no value sits near an x.5 boundary
    (verified margins ≥ 0.013 at capture time; default 1000, 800 where a
    milli-scaled value landed within 3e-5 of a boundary)."""
    return local_frame(spark,
        [(i, int(np.floor(float(v) * scale + 0.5))) for i, v in enumerate(s)],
        "rank int, sigma_i bigint",
    )


def _block_fro(c: BlockMatrix):
    """Per-output-block Frobenius norms — the small deterministic summary
    the GEMM benchmarks emit (full C stays on the cluster).  mapInArrow:
    the 8 MB block buffers are read zero-copy (pandas would materialize
    every block as a python bytes object first).

    Emitted ROUNDED TO INTEGER (floor(x+.5) — never banker's round): the
    norms are ~1e5-1e6 with cross-host/summation-order float drift ~1e-8
    relative (~1e-2 absolute at bench dims, ~1e-3 at gate dims), so the
    0.5 integer-boundary margin makes the values hash-stable across
    engines and hosts — which lets the driver's literal-VALUES oracle
    hash-check the actual GEMM CONTENT (VERDICT r5 #2: these rows were
    `no_oracle` when they emitted round-4 floats)."""

    def fro(batches):
        import pyarrow as pa

        schema = pa.schema(
            [("bi", pa.int32()), ("bj", pa.int32()), ("fro_i", pa.int64())]
        )
        for rb in batches:
            bi_c, bj_c, d_c = rb.column("bi"), rb.column("bj"), rb.column("data")
            out = {"bi": [], "bj": [], "fro_i": []}
            for i in range(rb.num_rows):
                v = np.frombuffer(d_c[i].as_buffer(), dtype=np.float64)
                out["bi"].append(bi_c[i].as_py())
                out["bj"].append(bj_c[i].as_py())
                out["fro_i"].append(int(np.floor(np.sqrt(v @ v) + 0.5)))
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    return c.df.mapInArrow(fro, "bi int, bj int, fro_i bigint")


def _fro_emit():
    """matmul ``emit`` spec computing _block_fro's summary INSIDE the GEMM
    tile task (r17 opt round, guide §4.1): the chained
    gemm_tiles→MapInArrow(fro) pair shipped the full product C (800 MB at
    the reference dims) Python→JVM→Python just to fold each block to one
    integer.  Same floats, same flatten order, same ``v @ v`` BLAS dot and
    floor(x+.5) rounding as _block_fro — identical output values."""

    def fro_of_block(bi: int, bj: int, blk: np.ndarray):
        v = blk.ravel()
        return (int(np.floor(np.sqrt(v @ v) + 0.5)),)

    return ([("fro_i", "int64")], fro_of_block)


def _max_residual(a: BlockMatrix, b: BlockMatrix, target: np.ndarray) -> float:
    """‖A·B − target‖∞ for a driver-built ``target``, fused into the
    GEMM tile stage through matmul's ``emit`` hook (r17 opt round, guide
    §4.1/§2.3): ``target`` ships once as an sc.broadcast, each tile
    subtracts its own slice of it and emits one double, so the product
    never crosses Python→JVM and no subtract stage or max_abs pass runs.
    The slices are the floats from_numpy blockified, and a max over tiles
    of max|·| is associative — the value a blockwise subtract + max_abs
    would give."""
    bc_t = a.df.sparkSession.sparkContext.broadcast(target)
    br, bc = a.block_rows, b.block_cols

    def resid(bi: int, bj: int, blk: np.ndarray):
        t = bc_t.value[
            bi * br : bi * br + blk.shape[0], bj * bc : bj * bc + blk.shape[1]
        ]
        return (float(np.abs(blk - t).max()),)

    try:
        df = a.matmul(b, emit=([("resid", "float64")], resid))
        return float(df.agg(F.max("resid")).collect()[0][0])
    finally:
        bc_t.unpersist()


@query(
    "la_gemm_block_norms",
    state_sized=True,
    headline=True,
    # literal VALUES capture of the seeded-input result (generated input —
    # driver testdata regeneration can't move it); values verified ≥ 0.098
    # from the nearest integer rounding boundary vs ~1e-8 float drift
    oracle=(
        "SELECT * FROM (VALUES (0, 0, 65498), (0, 1, 65464), (0, 2, 65459),"
        " (0, 3, 65349), (1, 0, 65502), (1, 1, 65465), (1, 2, 65460),"
        " (1, 3, 65356), (2, 0, 65681), (2, 1, 65640), (2, 2, 65634),"
        " (2, 3, 65524), (3, 0, 65484), (3, 1, 65447), (3, 2, 65443),"
        " (3, 3, 65335)) AS t(bi, bj, fro_i)"
    ),
)
def la_gemm_block_norms(spark: SparkSession, sf_dir: str):
    """GEMM (README.md:250-271): C = A·B on seeded 1024² matrices,
    256-blocks; returns per-output-block Frobenius norms, integer-rounded
    (see _block_fro) so the literal oracle hash-checks the GEMM content.

    The SUMMA join + in-order accumulate makes the result deterministic, so
    repeated runs hash identically."""
    a = BlockMatrix.random(spark, 1024, 1024, 256, 256, seed=11)
    b = BlockMatrix.random(spark, 1024, 1024, 256, 256, seed=22)
    return a.matmul(b, emit=_fro_emit())


# ---------------------------------------------------------------------------
# Reference-dimension benchmarks (VERDICT r1 #3): at bench scale (sf ≥ 0.1)
# these run the reference's PUBLISHED workload dimensions; below that they
# run scaled-down variants so the sf0.01 correctness gate stays fast.  Same
# algorithm, same plan shape — only the dims switch.
# ---------------------------------------------------------------------------


@query(
    "la_gemm_ref",
    state_sized=True,
    headline=True,
    # literal capture of the sf<0.1 branch (2000²/500 — the only branch the
    # sf=0.01 gate runs); margins ≥ 0.020 from rounding boundaries
    oracle=(
        "SELECT * FROM (VALUES (0, 0, 250271), (0, 1, 250151), (0, 2, 250146),"
        " (0, 3, 250308), (1, 0, 249904), (1, 1, 249785), (1, 2, 249788),"
        " (1, 3, 249951), (2, 0, 250050), (2, 1, 249927), (2, 2, 249932),"
        " (2, 3, 250095), (3, 0, 250123), (3, 1, 250000), (3, 2, 249996),"
        " (3, 3, 250165)) AS t(bi, bj, fro_i)"
    ),
    oracle_sf=0.01,
)
def la_gemm_ref(spark: SparkSession, sf_dir: str):
    """GEMM at the reference's published workload size (README.md:265-267):
    10,000×10,000 in 1,000-square blocks → 100 blocks/side, 1,000 SUMMA
    partials (~8 GB shuffle), 2 TFLOP.  Scaled 2000²/500 below bench sf.
    Emits integer-rounded per-block Frobenius norms (see _block_fro) so the
    sf0.01 branch hash-checks against a literal oracle."""
    n, bs = (10000, 1000) if _sf(sf_dir) >= 0.1 else (2000, 500)
    a = BlockMatrix.random(spark, n, n, bs, bs, seed=31)
    b = BlockMatrix.random(spark, n, n, bs, bs, seed=32)
    # Both operands are seed-generated, so matmul fuses generation into the
    # tile stage: only (si,sj,r,k,side) key rows shuffle and each block is
    # regenerated from its seed post-sort (blockmatrix.py matmul).  The r4
    # variant persisted both operands DISK_ONLY (~16 GB write + ~8 GB
    # shuffle); fusion removes all of that I/O — at 100× scale the operand
    # materialization WAS the job.  The Frobenius summary is likewise fused
    # into the tile stage (emit): C itself never leaves Python.
    return a.matmul(b, emit=_fro_emit())


@query(
    "la_tsqr_ref",
    state_sized=True,
    headline=True,
    # deterministic contract: booleans are sf-invariant (the residual bounds
    # hold at every scale), rank is the column count of the sf<0.1 branch —
    # the only branch the sf=0.01 correctness gate ever runs
    oracle="SELECT TRUE AS orthonormal, TRUE AS reconstructs, 32 AS rank",
    oracle_sf=0.01,
)
def la_tsqr_ref(spark: SparkSession, sf_dir: str):
    """TSQR at the reference's published workload size
    (docs/examples/examples.rst:80-82): 262,144×128 in 8,192-row blocks.
    Scaled 16384×32/1024 below bench sf.  Quality checks run distributed
    (gramian / blockwise residual + max_abs)."""
    if _sf(sf_dir) >= 0.1:
        n, br, c = 262144, 8192, 128
    else:
        n, br, c = 16384, 1024, 32
    a = BlockMatrix.random(spark, n, c, br, c, seed=35)
    # tsqr_check (r7): TWO distributed stages total — per-block R1s, then
    # ONE fused verification pass (regen + local QR + Q1·Q2 + gram partial
    # + residual max in-task); Q is never materialized and nothing is
    # persisted.  Replaced the 4-job persist+gramian+subtract composition
    # (its 256 MB cache-read recon pass alone cost 77 s executor time).
    _, orth_err, recon_err = a.tsqr_check()
    return local_frame(spark,
        [(round(orth_err, 10) < 1e-8, round(recon_err, 10) < 1e-8, c)],
        "orthonormal boolean, reconstructs boolean, rank int",
    )


@query(
    "la_svd_ts_ref",
    state_sized=True,
    headline=True,
    # sf<0.1 branch capture at scale 800 (milli-scale put σ₃·1000 within
    # 3e-5 of a boundary; at 800 the min margin is 0.031)
    oracle=(
        "SELECT * FROM (VALUES (0, 566525), (1, 34887), (2, 34741),"
        " (3, 34678), (4, 34611), (5, 34535), (6, 34521), (7, 34455),"
        " (8, 34372), (9, 34313), (10, 34226), (11, 34198), (12, 34144),"
        " (13, 34108), (14, 34052), (15, 33987), (16, 33974), (17, 33917),"
        " (18, 33829), (19, 33808)) AS t(rank, sigma_i)"
    ),
    oracle_sf=0.01,
)
def la_svd_ts_ref(spark: SparkSession, sf_dir: str):
    """Tall-skinny SVD at the reference's published workload size
    (README.md:220): 200,000×1,000 in 6,250-row blocks (32 blocks ×
    50 MB).  Scaled 20000×100/2500 below bench sf.  Emits the top-20
    singular values integer-scaled (see _sigma_rows) — a stable 20-row
    summary at both scales, hash-checked at the gate scale."""
    if _sf(sf_dir) >= 0.1:
        n, br, c = 200000, 6250, 1000
    else:
        n, br, c = 20000, 2500, 100
    a = BlockMatrix.random(spark, n, c, br, c, seed=37)
    _, s, _ = a.svd_tall_skinny()
    return _sigma_rows(spark, s[:20], scale=800.0)


@query(
    "la_svd_ts_docs",
    state_sized=True,
    headline=True,
    # sf<0.1 branch capture (20000×50 seed 43), min boundary margin 0.013
    oracle=(
        "SELECT * FROM (VALUES (0, 502190), (1, 42772), (2, 42462),"
        " (3, 42420), (4, 42356), (5, 42160), (6, 42100), (7, 42001),"
        " (8, 41926), (9, 41868), (10, 41793), (11, 41676), (12, 41604),"
        " (13, 41509), (14, 41460), (15, 41424), (16, 41341), (17, 41320),"
        " (18, 41223), (19, 41213)) AS t(rank, sigma_i)"
    ),
    oracle_sf=0.01,
)
def la_svd_ts_docs(spark: SparkSession, sf_dir: str):
    """Tall-skinny SVD at the reference's docs-variant workload size
    (docs/examples/examples.rst:46-48): 200,000×100 in 10,000-row blocks
    with the input `.persist()`-ed, exactly as the example runs it.
    Scaled 20000×50/2000 below bench sf."""
    if _sf(sf_dir) >= 0.1:
        n, br, c = 200000, 10000, 100
    else:
        n, br, c = 20000, 2000, 50
    a = BlockMatrix.random(spark, n, c, br, c, seed=43)
    a.df.persist()  # the docs example persists the input collection
    _, s, _ = a.svd_tall_skinny()
    a.df.unpersist()
    return _sigma_rows(spark, s[:20])


@query(
    "la_svd_compressed_ref",
    state_sized=True,
    headline=True,
    # sf<0.1 branch capture (2500×1250/625 seed 41, sketch seed 2),
    # min boundary margin 0.093
    oracle=(
        "SELECT * FROM (VALUES (0, 871386), (1, 18579), (2, 18440),"
        " (3, 18279), (4, 17945)) AS t(rank, sigma_i)"
    ),
    oracle_sf=0.01,
)
def la_svd_compressed_ref(spark: SparkSession, sf_dir: str):
    """Compressed/randomized SVD k=5 at the reference's published workload
    size (README.md:243-244, svd2.py:44-45): 10,000×10,000 in 1,000-square
    blocks.  Scaled 2500×1250/625 below bench sf."""
    if _sf(sf_dir) >= 0.1:
        n, m, bs = 10000, 10000, 1000
    else:
        n, m, bs = 2500, 1250, 625
    a = BlockMatrix.random(spark, n, m, bs, bs, seed=41)
    # n_iter=0 = exact algorithm parity with the reference run: dask's
    # svd_compressed defaults to n_power_iter=0 and svd2.py uses the
    # default (two fewer full passes over A; svd_compressed's own default
    # stays 1 for a tighter HMT envelope on unknown spectra)
    u, s, _ = a.svd_compressed(k=5, seed=2, n_iter=0)
    u.release()  # σ is driver-side; free the sketch's persisted stage
    return _sigma_rows(spark, s)


@query(
    "la_tsqr_factors",
    state_sized=True,
    headline=True,
    oracle="SELECT TRUE AS orthonormal, TRUE AS reconstructs, 32 AS rank",
)
def la_tsqr_factors(spark: SparkSession, sf_dir: str):
    """TSQR (docs/examples/examples.rst:72-82) on a seeded 8192×32 matrix
    (scaled-down 262144×128 benchmark, see la_tsqr_ref); returns quality
    metrics computed DISTRIBUTED (VERDICT r1 fix: no O(matrix) driver
    collect): ‖QᵀQ−I‖ via gramian(), ‖QR−A‖ via blockwise subtract +
    max_abs — the driver only ever sees c×c factors."""
    a = BlockMatrix.random(spark, 8192, 32, 1024, 32, seed=5)
    # tsqr_check (r7): fused two-stage factor + verify, Q never
    # materialized (see la_tsqr_ref)
    _, orth_err, recon_err = a.tsqr_check()
    return local_frame(spark,
        [(round(orth_err, 10) < 1e-8, round(recon_err, 10) < 1e-8, 32)],
        "orthonormal boolean, reconstructs boolean, rank int",
    )


@query(
    "la_qr_square",
    state_sized=True,
    oracle="SELECT TRUE AS orthonormal, TRUE AS reconstructs, TRUE AS full_rank",
)
def la_qr_square(spark: SparkSession, sf_dir: str):
    """General multi-block-column QR at the reference's own example shape —
    128×128 with 16×16 chunks (docs/examples/examples.rst:62-70), the case
    round 1 could not express (tsqr asserted grid_cols == 1).  Checks run
    distributed: orthonormality via QᵀQ (transpose_matvec of Q against
    itself), reconstruction via blockwise QR−A + max_abs."""
    a = BlockMatrix.random(spark, 128, 128, 16, 16, seed=7)
    q, r = a.qr()
    # both checks run off the single-block-column re-block of Q: gramian
    # gives QᵀQ as one small driver matrix (n_cols² — never O(matrix)),
    # and Q·R is a blockwise right-multiply by the driver-held R; the
    # residual reduces distributed via max_abs.  (The earlier
    # transpose+matmul+eye formulation spent ~2× the stages for the same
    # numbers.)
    qs = BlockMatrix(q.reblock_single_column().df.persist(), 128, 128, 16, 128)
    orth_err = float(np.abs(qs.gramian() - np.eye(128)).max())
    recon_err = (
        qs._map_blocks(lambda blk, _r=r: blk @ _r)
        .subtract(a.reblock_single_column())
        .max_abs()
    )
    qs.df.unpersist()
    q.release()  # frees qr()'s internal persisted stage (leak audit r15)
    # full-rank contract: the seeded input's min |diag(R)| is 0.1258 — the
    # 1e-3 gate is 100× below it, robust to BLAS summation-order drift
    return local_frame(spark,
        [
            (
                round(orth_err, 12) < 1e-9,
                round(recon_err, 12) < 1e-9,
                bool(np.abs(np.diag(r)).min() > 1e-3),
            )
        ],
        "orthonormal boolean, reconstructs boolean, full_rank boolean",
    )


# ---------------------------------------------------------------------------
# Boolean-contract variants (VERDICT r2 #1): the float workloads above emit
# singular values / block norms that no SQL engine can recompute, so the
# driver's hash gate can't verify them.  These variants run the SAME
# distributed algorithms and reduce the verification IN-PLAN — residual
# norms, cross-algorithm sigma comparison, a Freivalds-style matvec
# identity — emitting only the boolean verdicts, which literal SELECT
# oracles then hash-check end-to-end.
# ---------------------------------------------------------------------------


@query(
    "la_gemm_check",
    state_sized=True,
    oracle="SELECT TRUE AS matvec_identity, 16 AS blocks",
)
def la_gemm_check(spark: SparkSession, sf_dir: str):
    """Freivalds-style GEMM verification, fully distributed: C = A·B on the
    seeded 1024²/256 operands, then the matvec identity C·X ≡ A·(B·X) for a
    seeded 1024×8 probe X — three matmuls through the SAME
    replicate+cogroup tile path la_gemm_ref exercises, residual reduced via
    blockwise subtract + max_abs (a false C block fails with probability
    ~2⁻⁴²⁴ over 8 probe columns).  Verdict is the only thing that leaves
    the cluster."""
    a = BlockMatrix.random(spark, 1024, 1024, 256, 256, seed=11)
    b = BlockMatrix.random(spark, 1024, 1024, 256, 256, seed=22)
    # a/b are seed-generated → every matmul below fuses their generation
    # into its tile stage (no operand scan, so no persist needed)
    x = BlockMatrix.from_numpy(
        spark, np.random.default_rng(99).standard_normal((1024, 8)), 256, 8
    )
    x.df.persist()  # read by both sides of the identity
    c = a.matmul(b)
    lhs = c.matmul(x)
    rhs = a.matmul(b.matmul(x))
    # |entries of C·X| ~ 1e4; accumulated float64 error ~1e-10 — the 1e-6
    # absolute gate has 4 orders of margin on both sides
    err = lhs.subtract(rhs).max_abs()
    x.df.unpersist()
    return local_frame(spark,
        [(bool(err < 1e-6), c.grid_rows * c.grid_cols)],
        "matvec_identity boolean, blocks int",
    )


@query(
    "la_svd_ts_check",
    state_sized=True,
    oracle=(
        "SELECT TRUE AS u_orthonormal, TRUE AS reconstructs,"
        " TRUE AS sigma_sorted, 16 AS rank"
    ),
)
def la_svd_ts_check(spark: SparkSession, sf_dir: str):
    """Tall-skinny SVD contract on the la_svd_tall_skinny_sigma workload
    (20000×16, seed 9): UᵀU ≡ I via distributed gramian, ‖U·diag(s)·Vᵀ−A‖
    via blockwise subtract + max_abs, and s sorted descending.  Observed
    residuals are ~4e-15; the 1e-8 gates leave 6 orders of margin."""
    a = BlockMatrix.random(spark, 20000, 16, 2500, 16, seed=9)
    a.df.persist()  # read by the factorization and the reconstruction check
    u, s, vt = a.svd_tall_skinny()
    u.df.persist()  # read by gramian and the reconstruction check
    orth_err = float(np.abs(u.gramian() - np.eye(16)).max())
    svt = np.diag(s) @ vt
    recon_err = u._map_blocks(lambda blk, _m=svt: blk @ _m).subtract(a).max_abs()
    u.df.unpersist()
    a.df.unpersist()
    return local_frame(spark,
        [
            (
                orth_err < 1e-8,
                recon_err < 1e-8,
                bool(np.all(np.diff(s) <= 1e-12)),
                len(s),
            )
        ],
        "u_orthonormal boolean, reconstructs boolean, sigma_sorted boolean, rank int",
    )


@query(
    "la_svd_compressed_check",
    state_sized=True,
    oracle=(
        "SELECT TRUE AS u_orthonormal, TRUE AS sigma_sorted,"
        " TRUE AS top_sigma_close, 5 AS k"
    ),
)
def la_svd_compressed_check(spark: SparkSession, sf_dir: str):
    """Randomized-SVD contract on the la_svd_compressed_sigma workload
    (2000×1000, seed 13, k=5): the HMT sketch's σ₁ is cross-checked against
    the EXACT σ₁ computed by an independent distributed algorithm (re-block
    to one block column → gramian → driver eigh — the tall-skinny path),
    plus UᵀU ≡ I and descending σ.  For the seeded input σ₁=706.99 with the
    bulk at ~21.9, and a power-iterated sketch captures a dominant σ₁ to
    ~1e-6 relative — the 1% gate is robust."""
    a = BlockMatrix.random(spark, 2000, 1000, 500, 500, seed=13)
    # independent exact reference from the same seeded input (svd_compressed
    # reads a seeded A's key rows and persists nothing of it)
    g = a.reblock_single_column().gramian()
    s_exact = np.sqrt(np.clip(np.sort(np.linalg.eigvalsh(g))[::-1], 0, None))
    u, s, _ = a.svd_compressed(k=5, seed=1)
    orth_err = float(np.abs(u.gramian() - np.eye(5)).max())
    u.release()  # verdict scalars are on the driver; free U's backing stage
    return local_frame(spark,
        [
            (
                orth_err < 1e-6,
                bool(np.all(np.diff(s) <= 1e-12)),
                bool(abs(s[0] - s_exact[0]) / s_exact[0] < 1e-2),
                len(s),
            )
        ],
        "u_orthonormal boolean, sigma_sorted boolean, top_sigma_close boolean, k int",
    )


@query(
    "la_sparse_colsums",
    state_sized=True,
    # nnz of the seeded masked input is a fixed integer (computed from the
    # same per-block PCG64 streams the generator uses); the booleans are the
    # in-plan sparse-vs-dense cross-checks
    oracle="SELECT 3261 AS nnz, TRUE AS roundtrip_exact, TRUE AS colsums_match",
)
def la_sparse_colsums(spark: SparkSession, sf_dir: str):
    """Sparse-array workload, the mirror of the reference's
    test_sparse_arrays (`wukong/tests/test_collections.py:179-190`):
    threshold a seeded random matrix (`x[x < 0.95] = 0`), convert blocks to
    COO (`x.map_blocks(sparse.COO)`), reduce `s.sum(axis=0)[:10]`.

    Contract computed in-plan: total nnz (pure JVM agg over the COO nnz
    column), dense↔COO roundtrip exactness, and the first-10 column sums
    matching the DENSE col_sums path to 1e-9 — sparse reductions verified
    against an independent dense algorithm, only verdicts leave the
    cluster."""
    x = BlockMatrix.random(spark, 512, 128, 64, 32, seed=71)
    masked = x.map_elementwise(lambda b: np.where(b < 0.95, 0.0, b))
    masked.df.persist()  # read by the COO conversion, dense col_sums, roundtrip
    s = SparseBlockMatrix.from_dense(masked)
    s.df.persist()  # read by nnz, col_sums, to_dense
    nnz = s.nnz()
    sparse_cs = s.col_sums()[:10]
    dense_cs = masked.col_sums()[:10]
    rt_err = s.to_dense().subtract(masked).max_abs()
    s.df.unpersist()
    masked.df.unpersist()
    return local_frame(spark,
        [
            (
                nnz,
                bool(rt_err == 0.0),
                bool(np.abs(sparse_cs - dense_cs).max() < 1e-9),
            )
        ],
        "nnz bigint, roundtrip_exact boolean, colsums_match boolean",
    )


@query(
    "la_sparse_matmul_check",
    state_sized=True,
    # literals are legal here: inputs are SEEDED-GENERATED (per-block
    # PCG64 — independent of sf and of any table the driver regenerates)
    # and integer-exact (masked values are integers 1..9, so every
    # product/sum is an exact float64 integer < 2^53 — zero rounding
    # margin risk by construction)
    oracle="SELECT 128482 AS nnz, 41405175 AS total_sum,"
    " TRUE AS matches_dense",
)
def la_sparse_matmul_check(spark: SparkSession, sf_dir: str):
    """Sparse×sparse block matmul (SpGEMM, r11 — VERDICT r10 #8, the
    sparse surface's missing matmul): two seeded 10 %-density
    integer-valued COO matrices (512×384 · 384×256, ragged-free 128/96/64
    blockings) multiplied via `SparseBlockMatrix.matmul` — one equi-join
    on the contraction block index (absent blocks prune in the join, so
    work is O(nonzero block pairs)), per-pair numpy COO kernels, and a
    (bi, bj)-grouped accumulate.

    Contracts: total nnz and the grand total of C (both exact integers —
    the nonzeros are integers 1..9, so every partial product and sum is
    an exact float64 integer), plus matches_dense — the SAME masked
    operands pushed through the DENSE BlockMatrix.matmul path must agree
    three ways (two independent distributed algorithms, integer
    arithmetic, no tolerance): (a) block-by-block subtract exactly 0.0,
    (b) the dense product's INDEPENDENTLY computed nnz equals the sparse
    nnz, and (c) its grand total equals the sparse total.  (b)/(c) are
    computed from the dense path alone, so a block the sparse matmul
    wrongly OMITTED — invisible to the inner-join subtract, which drops
    unpaired blocks — still fails the referee (ADVICE r11 low)."""
    from wukong_spark.sparse import SparseBlockMatrix

    a = BlockMatrix.random(spark, 512, 384, 128, 96, seed=73)
    b = BlockMatrix.random(spark, 384, 256, 96, 64, seed=74)

    def mask_int(blk):
        return np.where(blk < 0.9, 0.0, np.floor(blk * 9.0) + 1.0)

    ma = a.map_elementwise(mask_int)
    mb = b.map_elementwise(mask_int)
    ma.df.persist()  # read by the sparse conversion AND the dense referee
    mb.df.persist()
    sa, sb = SparseBlockMatrix.from_dense(ma), SparseBlockMatrix.from_dense(mb)
    c = sa.matmul(sb)
    c.df.persist()  # read by nnz, sum, and the dense comparison
    nnz = c.nnz()
    total = c.sum()
    dense = ma.matmul(mb)
    dense.df.persist()  # read by the subtract, dense-nnz, and dense-total
    err = c.to_dense().subtract(dense).max_abs()
    # dense-path-only structural contracts: indicator sums are exact
    # integer-valued float64 (< 2^53), order-independent
    nnz_dense = int(
        round(
            float(
                dense.map_elementwise(lambda blk: (blk != 0).astype(np.float64))
                .col_sums()
                .sum()
            )
        )
    )
    total_dense = int(round(float(dense.col_sums().sum())))
    dense.df.unpersist()
    c.df.unpersist()
    ma.df.unpersist()
    mb.df.unpersist()
    matches = bool(err == 0.0) and nnz == nnz_dense and int(total) == total_dense
    return local_frame(spark,
        [(int(nnz), int(total), matches)],
        "nnz bigint, total_sum bigint, matches_dense boolean",
    )


@query(
    "la_rechunk_check",
    state_sized=True,
    oracle="SELECT TRUE AS roundtrip_exact, TRUE AS colsums_match, 16 AS blocks",
)
def la_rechunk_check(spark: SparkSession, sf_dir: str):
    """Re-chunking contract (da.rechunk — chunking is the reference's
    user-visible parallelism knob, README.md:63): a seeded 1000×700 matrix
    in ragged (256,128) blocks re-blocked to (300,200), then back.

    Contracts computed in-plan: the roundtrip is BITWISE exact (rechunk is
    pure data movement — pieces are byte copies, so subtract reduces to
    exactly 0.0), and the re-blocked matrix's column sums match the
    original's to 1e-9 (same addends, different grouping order).  Only the
    verdicts leave the cluster."""
    a = BlockMatrix.random(spark, 1000, 700, 256, 128, seed=55)
    a.df.persist()  # read by rechunk, the roundtrip subtract, and col_sums
    b = a.rechunk(300, 200)
    b.df.persist()  # read by the roundtrip rechunk and col_sums
    rt_err = b.rechunk(256, 128).subtract(a).max_abs()
    cs_err = float(np.abs(b.col_sums() - a.col_sums()).max())
    blocks = b.grid_rows * b.grid_cols
    b.df.unpersist()
    a.df.unpersist()
    return local_frame(spark,
        [(bool(rt_err == 0.0), bool(cs_err < 1e-9), blocks)],
        "roundtrip_exact boolean, colsums_match boolean, blocks int",
    )


@query(
    "la_concat_check",
    state_sized=True,
    oracle=(
        "SELECT TRUE AS fro_additive_v, TRUE AS rowsums_match,"
        " TRUE AS fro_additive_h, 21 AS v_blocks, 16 AS h_blocks"
    ),
)
def la_concat_check(spark: SparkSession, sf_dir: str):
    """Concatenation contract (da.concatenate over chunked arrays —
    SURVEY §1.1 dask.array surface): vstack a ragged 500×300/(128,128)
    matrix over a 300×300/(100,150) one (mutually incompatible blockings —
    the general case), and hstack a 500×200/(64,64) one beside it.

    In-plan contracts: Frobenius² additivity for both axes (disjoint
    supports), and the stacked row_sums equal the per-input row_sums
    concatenated.  Block counts pin the output geometry."""
    a = BlockMatrix.random(spark, 500, 300, 128, 128, seed=61)
    b = BlockMatrix.random(spark, 300, 300, 100, 150, seed=62)
    c = BlockMatrix.random(spark, 500, 200, 64, 64, seed=63)
    a.df.persist()  # read by both stacks, fro, and row_sums
    b.df.persist()
    v = a.vstack(b)  # 800×300 in (128,128) → 7×3 = 21 blocks
    v.df.persist()  # read by fro and row_sums
    fa2, fb2, fv2 = (
        a.frobenius_norm() ** 2, b.frobenius_norm() ** 2, v.frobenius_norm() ** 2
    )
    fro_v_ok = abs(fv2 - (fa2 + fb2)) / (fa2 + fb2) < 1e-9
    rs_err = float(
        np.abs(v.row_sums() - np.concatenate([a.row_sums(), b.row_sums()])).max()
    )
    h = a.hstack(c)  # 500×500 in (128,128) → 4×4 = 16 blocks
    fc2, fh2 = c.frobenius_norm() ** 2, h.frobenius_norm() ** 2
    fro_h_ok = abs(fh2 - (fa2 + fc2)) / (fa2 + fc2) < 1e-9
    v_blocks = v.grid_rows * v.grid_cols
    h_blocks = h.grid_rows * h.grid_cols
    v.df.unpersist()
    b.df.unpersist()
    a.df.unpersist()
    return local_frame(spark,
        [(bool(fro_v_ok), bool(rs_err < 1e-9), bool(fro_h_ok), v_blocks, h_blocks)],
        "fro_additive_v boolean, rowsums_match boolean, fro_additive_h boolean,"
        " v_blocks int, h_blocks int",
    )


@query(
    "la_lstsq_check",
    state_sized=True,
    oracle=(
        "SELECT TRUE AS qr_ne_agree, TRUE AS residual_orthogonal, 16 AS n_cols"
    ),
)
def la_lstsq_check(spark: SparkSession, sf_dir: str):
    """Least-squares contract (da.linalg.lstsq — dask routes it through
    TSQR exactly as BlockMatrix.lstsq does) on the 20000×16 tall-skinny
    workload shape: solve min‖AX−B‖ by TWO independent distributed
    algorithms — the QR path (lstsq: TSQR, then QᵀB via transpose_matvec)
    and the normal equations (gramian + AᵀB, driver solve) — and require
    1e-8 relative agreement; plus first-order optimality
    ‖Aᵀ(B−AX)‖∞ / ‖AᵀB‖∞ < 1e-10.  Only verdicts leave the cluster."""
    a = BlockMatrix.random(spark, 20000, 16, 2500, 16, seed=9)
    b = BlockMatrix.random(spark, 20000, 2, 2500, 2, seed=10)
    a.df.persist()  # read by qr (2 passes), gramian, and transpose_matvec
    b.df.persist()  # read by both algorithms' reductions
    x_qr = a.lstsq(b)
    g = a.gramian()
    atb = a.transpose_matvec(b)
    x_ne = np.linalg.solve(g, atb)
    agree = float(np.abs(x_qr - x_ne).max()) / float(np.abs(x_ne).max())
    orth = float(np.abs(atb - g @ x_qr).max()) / float(np.abs(atb).max())
    b.df.unpersist()
    a.df.unpersist()
    return local_frame(spark,
        [(bool(agree < 1e-8), bool(orth < 1e-10), a.n_cols)],
        "qr_ne_agree boolean, residual_orthogonal boolean, n_cols int",
    )


@query(
    "la_cumsum_check",
    state_sized=True,
    oracle=(
        "SELECT TRUE AS last_row_matches_colsums, TRUE AS diff_reconstructs,"
        " 40 AS blocks"
    ),
)
def la_cumsum_check(spark: SparkSession, sf_dir: str):
    """Distributed prefix-sum contract (da.cumsum(axis=0) + da slicing —
    SURVEY §1.1 dask.array surface) on a seeded 1000×300/(128,64) matrix:

    - last_row_matches_colsums: the cumsum's final row (extracted with the
      pruned-scan slice operator) equals col_sums — two INDEPENDENT
      distributed reductions must agree;
    - diff_reconstructs: cumsum minus its one-row-down shift (a zero row
      vstacked over cumsum[0:n−1] — slice + concat in anger) recovers the
      input to 1e-9, verified blockwise + max_abs.

    Only verdicts leave the cluster (the slice row is 1×300)."""
    a = BlockMatrix.random(spark, 1000, 300, 128, 64, seed=77)
    a.df.persist()  # read by cumsum's two passes, col_sums, and the diff
    cs = a.cumsum_rows()
    cs.df.persist()  # read by the slice probes and the diff check
    last = cs.slice(999, 1000, 0, 300).to_numpy().ravel()
    col_err = float(np.abs(last - a.col_sums()).max())
    zrow = BlockMatrix.from_numpy(spark, np.zeros((1, 300)), 128, 64)
    shifted = zrow.vstack(cs.slice(0, 999, 0, 300))
    recon_err = cs.subtract(shifted).subtract(a).max_abs()
    blocks = cs.grid_rows * cs.grid_cols
    cs.df.unpersist()
    cs.release()  # frees cumsum's internal offsets cache
    a.df.unpersist()
    return local_frame(spark,
        [(bool(col_err < 1e-8), bool(recon_err < 1e-9), blocks)],
        "last_row_matches_colsums boolean, diff_reconstructs boolean, blocks int",
    )


@query(
    "la_solve_check",
    state_sized=True,
    oracle=(
        "SELECT TRUE AS residual_small, TRUE AS matches_dense, 4 AS blocks"
    ),
)
def la_solve_check(spark: SparkSession, sf_dir: str):
    """SPD linear-system contract (da.linalg.solve = cholesky + the two
    triangular substitutions; docs/examples/examples.rst:84-100 is the
    factorization half): exp-covariance SPD 500²/125 blocks, seeded
    500×3 RHS.

    - residual_small: ‖A·X − B‖∞ / ‖B‖∞ < 1e-8 with A·X computed
      DISTRIBUTED (X re-blockified, SUMMA matmul, blockwise subtract +
      max_abs) — verification never trusts the solver's own arithmetic;
    - matches_dense: X equals the driver-local dense solve to 1e-6
      (500² is small enough to afford the independent local oracle)."""
    idx = np.arange(500)
    spd = np.exp(-np.abs(idx[:, None] - idx[None, :]) / 25.0)
    m = BlockMatrix.from_numpy(spark, spd, 125, 125)
    m.df.persist()  # read by cholesky and the residual matmul
    b = np.random.default_rng(101).standard_normal((500, 3))
    x = solve_spd(m, b)
    xbm = BlockMatrix.from_numpy(spark, x, 125, 3)
    resid = _max_residual(m, xbm, b)
    residual_small = resid / float(np.abs(b).max()) < 1e-8
    matches_dense = float(np.abs(x - np.linalg.solve(spd, b)).max()) < 1e-6
    blocks = m.grid_rows
    m.df.unpersist()
    return local_frame(spark,
        [(bool(residual_small), bool(matches_dense), blocks)],
        "residual_small boolean, matches_dense boolean, blocks int",
    )


@query(
    "la_probe_check",
    state_sized=True,
    oracle=(
        "SELECT TRUE AS gram_diag_matches, TRUE AS rowsum_matches,"
        " TRUE AS argmax_is_max, 160 AS diag_len"
    ),
)
def la_probe_check(spark: SparkSession, sf_dir: str):
    """Probe-operator contract (da.diagonal / da.argmax / da.cumsum(axis=1))
    on a seeded 512×160/(128,64) matrix — every probe cross-checked by an
    INDEPENDENT distributed reduction:

    - gram_diag_matches: diag(AᵀA) (gramian path) equals the column sums of
      A∘A (elementwise-square + col_sums path) to 1e-9 relative;
    - rowsum_matches: the last column of cumsum_cols (extracted with slice)
      equals row_sums;
    - argmax_is_max: the value at argmax's (r, c) — read back via a 1×1
      slice — equals max_abs (entries are uniform [0,1), so max ≡ max_abs);
    - diag_len: diagonal() returns min(n, m) values."""
    a = BlockMatrix.random(spark, 512, 160, 128, 64, seed=88)
    a.df.persist()  # read by gramian, squares, cumsum passes, slices
    gd = np.diag(a.reblock_single_column().gramian())
    cs2 = a.map_elementwise(lambda b: b * b).col_sums()
    gram_ok = float(np.abs(gd - cs2).max()) / float(np.abs(cs2).max()) < 1e-9
    # hold the cumsum result so its internal offsets cache can be released
    # (release() handles do NOT propagate through further derivations like
    # slice — chaining would orphan the persisted offsets table)
    ccs = a.cumsum_cols()
    last_col = ccs.slice(0, 512, 159, 160).to_numpy().ravel()
    ccs.release()
    row_ok = float(np.abs(last_col - a.row_sums()).max()) < 1e-9
    r, c = a.argmax()
    v = a.slice(r, r + 1, c, c + 1).to_numpy()[0, 0]
    arg_ok = abs(v - a.max_abs()) < 1e-15
    dlen = len(a.diagonal())
    a.df.unpersist()
    return local_frame(spark,
        [(bool(gram_ok), bool(row_ok), bool(arg_ok), dlen)],
        "gram_diag_matches boolean, rowsum_matches boolean,"
        " argmax_is_max boolean, diag_len int",
    )


@query(
    "la_svd_tall_skinny_sigma",
    state_sized=True,
    headline=True,
    # no sf branch — values identical at every scale; min margin 0.029
    oracle=(
        "SELECT * FROM (VALUES (0, 285656), (1, 41624), (2, 41542),"
        " (3, 41457), (4, 41365), (5, 41196), (6, 41016), (7, 40914),"
        " (8, 40846), (9, 40745), (10, 40485), (11, 40299), (12, 40112),"
        " (13, 40053), (14, 39951), (15, 39848)) AS t(rank, sigma_i)"
    ),
)
def la_svd_tall_skinny_sigma(spark: SparkSession, sf_dir: str):
    """Tall-skinny SVD (README.md:204-225) on seeded 20000×16, 2500-row
    blocks (scaled-down 200000×1000 benchmark); returns singular values."""
    a = BlockMatrix.random(spark, 20000, 16, 2500, 16, seed=9)
    _, s, _ = a.svd_tall_skinny()
    return _sigma_rows(spark, s)


@query(
    "la_svd_compressed_sigma",
    state_sized=True,
    headline=True,
    # no sf branch — values identical at every scale; min margin 0.146
    oracle=(
        "SELECT * FROM (VALUES (0, 706994), (1, 19202), (2, 19057),"
        " (3, 18931), (4, 18855)) AS t(rank, sigma_i)"
    ),
)
def la_svd_compressed_sigma(spark: SparkSession, sf_dir: str):
    """Compressed/randomized SVD k=5 (README.md:227-248, svd2.py:44-45) on
    a seeded 2000×1000 matrix, 500-blocks (scaled-down 10000×10000)."""
    a = BlockMatrix.random(spark, 2000, 1000, 500, 500, seed=13)
    u, s, _ = a.svd_compressed(k=5, seed=1)
    u.release()  # σ is driver-side; free the sketch's persisted stage
    return _sigma_rows(spark, s)


@query(
    "la_cholesky_check",
    state_sized=True,
    headline=True,
    # 4 = grid count of the sf<0.1 branch (100² / 25-blocks), the branch the
    # sf=0.01 correctness gate runs; the boolean residual bound is sf-invariant
    oracle="SELECT TRUE AS reconstructs, 4 AS blocks",
    oracle_sf=0.01,
)
def la_cholesky_check(spark: SparkSession, sf_dir: str):
    """DISTRIBUTED Cholesky (docs/examples/examples.rst:84-100) on the
    doc's own SPD input tril(ones(100,100)) @ its transpose, 25-blocks.

    Round-2: cholesky_blocked is the driver-coordinated trailing-update
    loop (driver holds ONE diagonal block at a time, never A), and the
    reconstruction check is distributed too — L·Lᵀ via SUMMA matmul,
    residual via blockwise subtract + max_abs.

    At bench scale (sf ≥ 0.1) the input is a 2000×2000 / 500-block
    exponential-covariance SPD matrix (well-conditioned kernel, so the
    1e-8 residual bound is meaningful); below that, the doc's own 100²/25
    input keeps the correctness gate fast."""
    if _sf(sf_dir) >= 0.1:
        idx = np.arange(2000)
        spd = np.exp(-np.abs(idx[:, None] - idx[None, :]) / 50.0)
        bs = 500
    else:
        t = np.tril(np.ones((100, 100)))
        spd = t @ t.T
        bs = 25
    m = BlockMatrix.from_numpy(spark, spd, bs, bs)
    l_bm = cholesky_blocked(m)
    l_bm.df.persist()
    # m.df needs no persist: the factorization's initial checkpoint is
    # its single reader, since the residual subtracts the driver's `spd`
    max_err = _max_residual(l_bm, l_bm.transpose(), spd)
    l_bm.df.unpersist()
    return local_frame(spark,
        [(bool(max_err < 1e-8), m.grid_rows)],
        "reconstructs boolean, blocks int",
    )


@query(
    "la_overlap_check",
    state_sized=True,
    oracle=(
        "SELECT TRUE AS stencil_matches, TRUE AS interior_nonzero, 32 AS blocks"
    ),
)
def la_overlap_check(spark: SparkSession, sf_dir: str):
    """Ghost-cell stencil contract (da.map_overlap, boundary='none' —
    beyond-reference dask.array surface, r6): a 3-row zero-padded vertical
    stencil x + shift_down(x) + shift_up(x) on a seeded 1000×200/(128,64)
    matrix computed by TWO independent distributed algorithms:

    - map_overlap(depth=1): halo exchange (each block carries one
      neighbor row on each side), per-block stencil, halos trimmed;
    - the slice/vstack composition: zero-row-padded shifted copies added
      blockwise — no halo machinery at all.

    The additions run in the same order on both paths, so agreement is
    exact (gate 1e-12); interior_nonzero guards against a degenerate
    all-zero comparison.  Only verdicts leave the cluster."""
    a = BlockMatrix.random(spark, 1000, 200, 128, 64, seed=91)

    def stencil(x):
        z = np.zeros((1, x.shape[1]))
        up = np.vstack([z, x[:-1]])
        down = np.vstack([x[1:], z])
        return (x + up) + down

    via_overlap = a.map_overlap(stencil, depth=1)
    zrow = BlockMatrix.from_numpy(spark, np.zeros((1, 200)), 128, 64)
    shifted_down = zrow.vstack(a.slice(0, 999, 0, 200))
    shifted_up = a.slice(1, 1000, 0, 200).vstack(zrow)
    ref = a.add(shifted_down).add(shifted_up)
    ref.df.persist()  # read by the agreement check and the probe slice
    err = via_overlap.subtract(ref).max_abs()
    probe = float(np.abs(ref.slice(500, 501, 0, 200).to_numpy()).max())
    blocks = via_overlap.grid_rows * via_overlap.grid_cols
    ref.df.unpersist()
    return local_frame(spark,
        [(bool(err < 1e-12), bool(probe > 0.1), blocks)],
        "stencil_matches boolean, interior_nonzero boolean, blocks int",
    )


@query(
    "la_lu_inv_check",
    state_sized=True,
    oracle=(
        "SELECT TRUE AS reconstructs, TRUE AS triangular,"
        " TRUE AS solve_matches_dense, TRUE AS inv_residual_small,"
        " 3 AS blocks"
    ),
)
def la_lu_inv_check(spark: SparkSession, sf_dir: str):
    """General (non-SPD) linear algebra contract (r17, VERDICT r16
    missing #4 — da.linalg.lu / da.linalg.solve / da.linalg.inv): a
    seeded diagonally-dominant NONSYMMETRIC 300²/100 matrix is factored
    ONCE by `lu_blocked` (distributed right-looking block LU, unpivoted
    — the documented dominance contract) and the persisted factors back
    all three probes (`lu_solve`/`inv_blocked` are the one-call
    conveniences over exactly these substitution sweeps; re-factoring
    per probe tripled the entry's cost for zero extra evidence):

    - reconstructs: ‖L·U − A‖∞ < 1e-8·n with L·U computed DISTRIBUTED
      (SUMMA matmul + blockwise subtract + max_abs) — never trusting the
      factorization's own arithmetic;
    - triangular: L is unit-lower and U upper (max |violating entry|
      exactly 0, read from the factor frames);
    - solve_matches_dense: the L/U substitution sweeps solve A·X = B to
      the driver-local dense solve at 1e-6 (300² affords the
      independent local oracle);
    - inv_residual_small: ‖A·A⁻¹ − I‖∞ < 1e-8·n with A⁻¹ from the same
      factors against an identity RHS (the `inv_blocked` path)."""
    from wukong_spark.blockmatrix import lu_blocked

    rng = np.random.default_rng(202)
    n, bs = 300, 100
    a_np = rng.standard_normal((n, n)) + n * np.eye(n)
    a = BlockMatrix.from_numpy(spark, a_np, bs, bs)
    # (persist dropped r17: with the residual fused into the matmul tile
    # stage below, the factorization's initial checkpoint is a.df's only
    # reader)
    l_bm, u_bm = lu_blocked(a)
    l_bm.df.persist()  # read by recon, solve, and inv sweeps
    u_bm.df.persist()
    recon = _max_residual(l_bm, u_bm, a_np) < 1e-8 * n
    l_np, u_np = l_bm.to_numpy(), u_bm.to_numpy()
    triangular = (
        float(np.abs(np.triu(l_np, 1)).max()) == 0.0
        and float(np.abs(np.diag(l_np) - 1).max()) == 0.0
        and float(np.abs(np.tril(u_np, -1)).max()) == 0.0
    )
    b = rng.standard_normal((n, 3))
    x = u_bm.solve_triangular(
        l_bm.solve_triangular(b, lower=True), lower=False
    )
    solve_ok = float(np.abs(x - np.linalg.solve(a_np, b)).max()) < 1e-6
    inv = u_bm.solve_triangular(
        l_bm.solve_triangular(np.eye(n), lower=True), lower=False
    )
    inv_ok = float(np.abs(a_np @ inv - np.eye(n)).max()) < 1e-8 * n
    blocks = a.grid_rows
    l_bm.df.unpersist()
    u_bm.df.unpersist()
    return local_frame(spark,
        [(bool(recon), bool(triangular), bool(solve_ok), bool(inv_ok), blocks)],
        "reconstructs boolean, triangular boolean,"
        " solve_matches_dense boolean, inv_residual_small boolean,"
        " blocks int",
    )


@query(
    "la_indexing_block_check",
    state_sized=True,
    oracle=(
        "SELECT TRUE AS take_matches, TRUE AS mask_matches,"
        " TRUE AS concat_matches, TRUE AS block_matches,"
        " 96 AS masked_rows"
    ),
)
def la_indexing_block_check(spark: SparkSession, sf_dir: str):
    """Array indexing/assembly surface (r17, VERDICT r16 missing #4 —
    da fancy/boolean indexing, da.concatenate (n-ary), da.block): a
    seeded 288×40/(64,16) matrix is probed four ways, each equal
    BITWISE to the numpy composition (the piece machinery moves bytes,
    never recomputes):

    - take_matches: take_rows with repeats + arbitrary order equals
      a[idx] (checked via the distributed matrix's to_numpy);
    - mask_matches: compress_rows(mask) equals a[mask] for an every-3rd
      + tail mask (96 rows, emitted as RUNS — the driver sends
      O(#runs) piece descriptors, not O(#rows));
    - concat_matches: concat_blocks of three different blockings equals
      np.concatenate — ONE emit+stitch shuffle for all inputs;
    - block_matches: block_grid of a conforming 2×2 tile grid equals
      np.block."""
    from wukong_spark.blockmatrix import block_grid, concat_blocks

    a = BlockMatrix.random(spark, 288, 40, 64, 16, seed=77)
    a.df.persist()  # probed by take/mask/concat/block paths
    a_np = a.to_numpy()
    idx = [5, 5, 287, 0, 64, 65, 127, 128, 200, 13]
    take_ok = np.array_equal(a.take_rows(idx).to_numpy(), a_np[idx])
    mask = (np.arange(288) % 3 == 0) | (np.arange(288) >= 288)
    masked = a.compress_rows(mask)
    mask_ok = np.array_equal(masked.to_numpy(), a_np[mask])
    b = BlockMatrix.random(spark, 50, 40, 20, 40, seed=78)
    b_np = b.to_numpy()
    cat = concat_blocks([a, b], axis=0)
    concat_ok = np.array_equal(
        cat.to_numpy(), np.concatenate([a_np, b_np], axis=0)
    )
    tl, tr = a.slice(0, 100, 0, 25), a.slice(0, 100, 25, 40)
    bl, br = a.slice(100, 288, 0, 25), a.slice(100, 288, 25, 40)
    block_ok = np.array_equal(
        block_grid([[tl, tr], [bl, br]]).to_numpy(), a_np
    )
    n_masked = masked.n_rows
    a.df.unpersist()
    return local_frame(spark,
        [(bool(take_ok), bool(mask_ok), bool(concat_ok), bool(block_ok), n_masked)],
        "take_matches boolean, mask_matches boolean, concat_matches boolean,"
        " block_matches boolean, masked_rows int",
    )
