"""`mlops.als_fit`'s objectives, checked against an independent recompute.

The fit reads each objective Σ(r − u·v)² + λ(‖U‖² + ‖V‖²) from the legs its
half-step solves emit.  The reference here re-joins the ratings with both
factor frames and measures the objective JVM-side (zip_with/aggregate dot
products), the way the fit itself did before the legs were fused into the
solves.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K, REG, SEED = 8, 0.1, 11


def _ratings(spark) -> DataFrame:
    """100 users × 10 of 50 items, rank-4 signal plus noise (the
    benchmark's ALS shape), from a local list as the benchmark builds it."""
    rng = np.random.default_rng(5)
    ut, vt = rng.standard_normal((100, 4)), rng.standard_normal((50, 4))
    rows = []
    for u in range(100):
        for it in rng.choice(50, 10, replace=False):
            r = float(ut[u] @ vt[it] + 0.1 * rng.standard_normal())
            rows.append((u, int(it), r))
    return spark.createDataFrame(rows, "user_id long, item_id long, rating double")


def _objective(ratings: DataFrame, u: DataFrame, v: DataFrame, reg: float) -> float:
    """Σ(r − u·v)² over ratings ⋈ U ⋈ V, plus λ(‖U‖² + ‖V‖²), in one job."""
    dot = F.aggregate(
        F.zip_with(F.col("uf"), F.col("vf"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    j = ratings.join(u.withColumnRenamed("f", "uf"), "user_id").join(
        v.withColumnRenamed("f", "vf"), "item_id"
    )
    sse_leg = j.select(F.pow(F.col("rating") - dot, F.lit(2)).alias("x")).agg(
        F.sum("x").alias("x")
    )
    norm2 = F.aggregate(F.col("f"), F.lit(0.0), lambda acc, x: acc + x * x)

    def norm_leg(df: DataFrame):
        return df.select(norm2.alias("x")).agg((F.sum("x") * F.lit(reg)).alias("x"))

    total = (
        sse_leg.unionByName(norm_leg(u))
        .unionByName(norm_leg(v))
        .agg(F.sum("x"))
        .collect()[0][0]
    )
    return float(total)


def _initial(spark, ratings: DataFrame, key: str) -> DataFrame:
    """The fit's seeded initial factors, regenerated on the driver."""
    ids = sorted(r[0] for r in ratings.select(key).distinct().collect())
    rows = [
        (i, (np.random.default_rng((SEED, i)).standard_normal(K) * 0.1).tolist())
        for i in ids
    ]
    return spark.createDataFrame(rows, f"{key} long, f array<double>")


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def test_objectives_match_join_recompute(spark):
    """Fits with iters = 0, 1, 2 return (U_{n+1}, V_n) and objectives
    [J(U₀,V₀), J(U₁,V₁), …, J(U_n,V_n), J(U_{n+1},V_n)].  The solves are
    deterministic, so fit n−1's U is U_n: every objective of every fit is
    recomputed from returned factors (objs[0] from the regenerated U₀/V₀)
    and must agree to a relative 1e-12.  Afterwards, releasing the returned
    frames with `release_checkpoint` leaves no persistent RDD the fits
    created."""
    from wukong_spark.mlops import als_fit
    from wukong_spark.session import release_checkpoint

    ratings = _ratings(spark)
    before = _persistent_ids(spark)
    fits = [als_fit(ratings, n_factors=K, reg=REG, iters=n, seed=SEED) for n in range(3)]

    def close(got: float, want: float):
        assert abs(got - want) <= 1e-12 * abs(want), (got, want)

    u0, v0 = _initial(spark, ratings, "user_id"), _initial(spark, ratings, "item_id")
    j0 = _objective(ratings, u0, v0, REG)
    for n, (u, v, objs) in enumerate(fits):
        assert len(objs) == n + 2
        close(objs[0], j0)
        # J(U_j, V_j) for 1 ≤ j ≤ n: U_j is fit j−1's U, V_j is fit j's V
        for j in range(1, n + 1):
            close(objs[j], _objective(ratings, fits[j - 1][0], fits[j][1], REG))
        close(objs[-1], _objective(ratings, u, v, REG))
        assert all(b <= a + 1e-9 for a, b in zip(objs, objs[1:])), objs
    # the shared prefix of the three sequences is the same computation
    np.testing.assert_allclose(fits[2][2][:2], fits[1][2][:2], rtol=1e-12)

    for u, v, _ in fits:
        assert u.columns == ["user_id", "f"] and v.columns == ["item_id", "f"]
        release_checkpoint(u)
        release_checkpoint(v)
    assert _persistent_ids(spark) <= before


#: three fits of `_ratings` on a fresh 1-core session with one shuffle
#: partition; prints one digest of U, V and the objectives per fit
_THREE_FITS = """
import hashlib
import numpy as np
from tests.test_als import K, REG, SEED, _ratings
from wukong_spark.mlops import als_fit
from wukong_spark.session import get_spark, release_pending

spark = get_spark("als-bit-identical", master="local[1]", shuffle_partitions=1)
ratings = _ratings(spark)
for _ in range(3):
    u, v, objs = als_fit(ratings, n_factors=K, reg=REG, iters=2, seed=SEED)
    h = hashlib.sha256(np.array(objs).tobytes())
    for df in (u, v):
        h.update(np.array(sorted((r[0], *r[1]) for r in df.collect())).tobytes())
    print(h.hexdigest())
    release_pending()
spark.stop()
"""


def test_fit_bit_identical_across_runs():
    """Fits of one input return byte-equal U, V and objectives, on a
    1-core session with one shuffle partition, where the order each
    entity's pairs arrive in still varies run to run: the fit sorts them
    by the other side's id and sums the objectives in id order."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _THREE_FITS], cwd=root, capture_output=True, text=True,
        timeout=600, check=True, env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
    )
    digests = out.stdout.split()
    assert len(digests) == 3 and len(set(digests)) == 1, digests
