"""The benchmark's workloads: which calls each op makes, and how its result
is checked.

An op is one call into the engine's public API whose result is consumed on
the driver (collected), plus a check of that result against an answer the
benchmark computed independently.  Checks raise `WrongResult`; the worker
counts a raised check, like a raised op, as one failed op and carries on.

Inputs are a pure function of the seed.  Ops whose results the engine
memoizes by content (`WukongClient.submit`/`map`) draw fresh inputs from
(seed, pass) on every pass, so no pass is served from a memo.
"""

from __future__ import annotations

import hashlib
import operator
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

RELATIONAL_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "window_cumsum_orders",
    "events_sessionize_30m",
    "skew_salted_join_check",
]


class WrongResult(Exception):
    """An op returned, but its result disagrees with the reference."""


@dataclass
class Op:
    name: str  # per-layer metric stem, e.g. "relational.q1_pricing_summary"
    run: Callable[[int], Any]  # pass index -> result (already on the driver)
    check: Callable[[int, Any], None]  # raises WrongResult
    #: jobs are attributed by the op's time window instead of its job
    #: group: taskgraph labels the jobs it launches with its own groups
    by_window: bool = False
    #: name of the per-layer job-count metric of this op, if it has one
    jobs_name: str | None = None
    #: check after the last pass, once the driver's peak RSS is read, so
    #: the dense reference inputs never count toward it
    deferred: bool = False


@dataclass
class Sizes:
    """Input sizes of one benchmark configuration."""

    sf: float
    tsqr_rows: int
    tsqr_block: int
    tree_leaves: int
    chain_hops: int
    map_items: int
    reduce_leaves: int
    als_users: int
    als_items: int
    als_iters: int
    als_per_user: int = 20


FULL = Sizes(
    sf=0.05,
    tsqr_rows=8192,
    tsqr_block=1024,
    tree_leaves=8,
    chain_hops=4,
    map_items=8,
    reduce_leaves=1024,
    als_users=100,
    als_items=50,
    als_iters=0,
    als_per_user=10,
)

TINY = Sizes(
    sf=0.001,
    tsqr_rows=512,
    tsqr_block=128,
    tree_leaves=4,
    chain_hops=2,
    map_items=8,
    reduce_leaves=64,
    als_users=30,
    als_items=20,
    als_iters=1,
    als_per_user=8,
)


# --------------------------------------------------------------------------
# result digests
# --------------------------------------------------------------------------


def _cell(v: Any) -> str:
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, float):
        return "f" + repr(v)
    return type(v).__name__ + repr(v)


def digest(columns: list[str], rows: list[tuple]) -> dict:
    """Order-insensitive digest of a result table: row count, column names
    and a hash over rows rendered exactly (type-tagged reprs, so 1 and 1.0
    differ), columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"rows": len(rows), "columns": sorted(columns), "sha256": h}


def oracle_digests(data_dir: str, queries: list[str]) -> dict:
    """Run each query's registry oracle SQL on DuckDB over `data_dir`."""
    import duckdb

    from wukong_spark.queries import load_all

    from perfbench.datagen import TABLES

    reg = load_all()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in queries:
            cur = con.execute(reg[q].oracle)
            cols = [d[0] for d in cur.description]
            out[q] = digest(cols, cur.fetchall())
        return out
    finally:
        con.close()


# --------------------------------------------------------------------------
# relational
# --------------------------------------------------------------------------


def relational_ops(spark, ctx: dict, sizes: Sizes) -> list[Op]:
    from wukong_spark.queries import load_all

    reg = load_all()
    data_dir = ctx["data_dir"]
    expected = ctx["expected"]["relational"]

    def make(q: str) -> Op:
        def run(p: int):
            df = reg[q].fn(spark, data_dir)
            return df.columns, [tuple(r) for r in df.collect()]

        def check(p: int, res) -> None:
            got = digest(*res)
            if got != expected[q]:
                raise WrongResult(f"{q}: {got} != oracle {expected[q]}")

        return Op(f"relational.{q}", run, check)

    return [make(q) for q in RELATIONAL_QUERIES]


# --------------------------------------------------------------------------
# linalg
# --------------------------------------------------------------------------

#: the fused-vs-materialized tolerance `tests/test_blockmatrix.py` pins
#: for TSQR, and the one for numpy references (float64 eps times the
#: reduction length, with margin)
TSQR_PIN_TOL = 1e-11
NUMPY_REL_TOL = 1e-10


def _tsqr_input(spark, seed: int, s: Sizes):
    """The seeded (fused-path) tall-skinny matrix; its block seed derives
    from `seed`."""
    from wukong_spark.blockmatrix import BlockMatrix

    block_seed = int(np.random.default_rng([seed, 4242]).integers(1, 2**30))
    return BlockMatrix.random(spark, s.tsqr_rows, 32, s.tsqr_block, 32, seed=block_seed)


def _close(got, want, rel: float, what: str) -> None:
    got, want = np.asarray(got, dtype=float), np.asarray(want, dtype=float)
    scale = max(1.0, float(np.abs(want).max()))
    err = float(np.abs(got - want).max()) / scale
    if not np.isfinite(err) or err > rel:
        raise WrongResult(f"{what}: relative error {err:.3e} > {rel:.0e}")


def linalg_ops(spark, ctx: dict, s: Sizes) -> list[Op]:
    """`tsqr` once on seeded blocks (gen_seed set: the fused path) and once
    on a copy checkpointed in set-up (gen_seed unset: the materialized
    path)."""
    from wukong_spark.blockmatrix import BlockMatrix

    fused = _tsqr_input(spark, ctx["seed"], s)
    mat = BlockMatrix(
        fused.df.localCheckpoint(eager=True),
        fused.n_rows,
        fused.n_cols,
        fused.block_rows,
        fused.block_cols,
    )
    ref: dict = {}  # numpy answers, computed at the first check
    last: dict[str, tuple] = {}  # latest result per source

    def run(p: int, bm) -> tuple:
        q, r = bm.tsqr()
        qn = q.to_numpy()
        q.release()
        return qn, r

    def check(p: int, res: tuple, src: str) -> None:
        if not ref:
            a = fused.to_numpy()
            ref.update(gram=a.T @ a, colsum=a.sum(axis=0))
        qn, r = res
        _close(qn.T @ qn, np.eye(qn.shape[1]), NUMPY_REL_TOL, "tsqr QᵀQ = I")
        if np.abs(np.tril(r, -1)).max() != 0.0:
            raise WrongResult("tsqr R is not upper triangular")
        _close(r.T @ r, ref["gram"], NUMPY_REL_TOL, "tsqr RᵀR = AᵀA")
        _close((qn @ r).sum(axis=0), ref["colsum"], NUMPY_REL_TOL, "tsqr column sums of QR")
        last[src] = res
        other = last.get("materialized" if src == "fused" else "fused")
        if other is not None:
            for got, want in zip(res, other):
                if np.abs(got - want).max() > TSQR_PIN_TOL:
                    raise WrongResult("tsqr: fused and materialized differ")

    return [
        Op(
            f"linalg.tsqr.{src}",
            lambda p, bm=bm: run(p, bm),
            lambda p, res, src=src: check(p, res, src),
            jobs_name=f"linalg.tsqr.{src}.jobs",
            deferred=True,
        )
        for src, bm in (("fused", fused), ("materialized", mat))
    ]


# --------------------------------------------------------------------------
# dag
# --------------------------------------------------------------------------


def _pass_rng(seed: int, p: int, what: int) -> np.random.Generator:
    return np.random.default_rng([seed, p, what])


def _ratings(seed: int, p: int, s: Sizes):
    """Seeded low-rank-plus-noise ratings: every user rates `als_per_user`
    distinct items."""
    rng = _pass_rng(seed, p, 5)
    ut = rng.standard_normal((s.als_users, 4))
    vt = rng.standard_normal((s.als_items, 4))
    users, items, vals = [], [], []
    for u in range(s.als_users):
        its = rng.choice(s.als_items, s.als_per_user, replace=False)
        for it in its:
            users.append(u)
            items.append(int(it))
            vals.append(float(ut[u] @ vt[it] + 0.1 * rng.standard_normal()))
    return users, items, vals


ALS_RANK, ALS_REG = 8, 0.1


def dag_ops(spark, ctx: dict, s: Sizes, client) -> list[Op]:
    seed = ctx["seed"]

    def leaves(p: int, what: int, n: int) -> list[int]:
        # distinct values, so no two leaves share a memo key
        return [int(v) for v in _pass_rng(seed, p, what).choice(10**9, n, replace=False)]

    def tree_run(p):
        level = [client.submit(operator.add, v, 0) for v in leaves(p, 1, s.tree_leaves)]
        while len(level) > 1:
            level = [
                client.submit(operator.add, level[i], level[i + 1])
                for i in range(0, len(level), 2)
            ]
        return level[0].result()

    def tree_check(p, got):
        want = sum(leaves(p, 1, s.tree_leaves))
        if got != want:
            raise WrongResult(f"tree sum {got} != {want}")

    def chain_run(p):
        start, step = leaves(p, 2, 2)
        f = client.submit(operator.add, start, 0)
        for _ in range(s.chain_hops - 1):
            f = client.submit(operator.add, f, step)
        return f.result()

    def chain_check(p, got):
        start, step = leaves(p, 2, 2)
        want = start + step * (s.chain_hops - 1)
        if got != want:
            raise WrongResult(f"chain end {got} != {want}")

    def map_run(p):
        xs = leaves(p, 3, s.map_items)
        return client.gather(client.map(operator.mul, xs, [3] * len(xs)))

    def map_check(p, got):
        want = [3 * x for x in leaves(p, 3, s.map_items)]
        if list(got) != want:
            raise WrongResult("map results differ")

    def reduce_run(p):
        return client.tree_reduce(
            leaves(p, 4, s.reduce_leaves), operator.add, 0, depth=2, npartitions=ctx["cores"]
        )

    def reduce_check(p, got):
        want = sum(leaves(p, 4, s.reduce_leaves))
        if got != want:
            raise WrongResult(f"tree_reduce {got} != {want}")

    def als_run(p):
        from pyspark.sql import functions as F

        from wukong_spark.mlops import als_fit
        from wukong_spark.session import release_checkpoint

        users, items, vals = _ratings(seed, p, s)
        ratings = spark.createDataFrame(
            list(zip(users, items, vals)), "user_id long, item_id long, rating double"
        )
        u_df, v_df, objs = als_fit(ratings, n_factors=ALS_RANK, reg=ALS_REG, iters=s.als_iters)
        u = {r[0]: np.asarray(r[1]) for r in u_df.select("user_id", F.col("f")).collect()}
        v = {r[0]: np.asarray(r[1]) for r in v_df.select("item_id", F.col("f")).collect()}
        release_checkpoint(u_df)
        release_checkpoint(v_df)
        return u, v, objs

    def als_check(p, res):
        """The `ml_als_check` contract, recomputed on the driver: every
        user's regularized gradient vanishes after the closing user step,
        the objective never increases, and the fit beats the mean."""
        u, v, objs = res
        users, items, vals = _ratings(seed, p, s)
        if len(u) != s.als_users or len(v) != len(set(items)):
            raise WrongResult(f"factor counts {len(u)}/{len(v)}")
        r = np.asarray(vals)
        by_user: dict[int, list[int]] = {}
        for i, uid in enumerate(users):
            by_user.setdefault(uid, []).append(i)
        gmax, sse = 0.0, 0.0
        for uid, idx in by_user.items():
            vs = np.stack([v[items[i]] for i in idx])
            ru = r[idx]
            g = (vs.T @ vs + ALS_REG * np.eye(ALS_RANK)) @ u[uid] - vs.T @ ru
            gmax = max(gmax, float(np.abs(g).max()))
            sse += float(((ru - vs @ u[uid]) ** 2).sum())
        if gmax >= 1e-8:
            raise WrongResult(f"ALS user gradient {gmax:.2e}")
        if any(b > a + 1e-9 for a, b in zip(objs, objs[1:])):
            raise WrongResult(f"ALS objective increased: {objs}")
        if sse >= float(((r - r.mean()) ** 2).sum()):
            raise WrongResult("ALS does not beat the mean baseline")

    return [
        Op("dag.tree", tree_run, tree_check, by_window=True),
        Op("dag.chain", chain_run, chain_check, by_window=True),
        Op("dag.map", map_run, map_check, by_window=True),
        Op("dag.tree_reduce", reduce_run, reduce_check),
        Op("dag.als_fit", als_run, als_check, jobs_name="dag.als_jobs"),
    ]


def linalg_dag_ops(spark, ctx: dict, s: Sizes, client) -> list[Op]:
    return linalg_ops(spark, ctx, s) + dag_ops(spark, ctx, s, client)
