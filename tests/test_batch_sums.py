"""mlops.batch_sums, the one sufficient-statistics pass behind every
feature-matrix fit and fit check, and the fitters built on it."""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pytest

import wukong_spark
from wukong_spark import mlops


def _frame_with_empty_partition(spark):
    """500 rows of 3 deterministic features and a label over 5
    partitions; the filter empties the second one (ids 100-199)."""
    return spark.range(0, 500, 1, 5).filter("id < 100 OR id >= 200").selectExpr(
        "id",
        "id % 3 AS fold",
        "array(sin(id), cos(id * 0.7), (id % 17) / 4.0) AS features",
        "2.0 * sin(id) - cos(id * 0.7) + 0.25 * (id % 17) + 1.5 + sin(id * 3.1) AS label",
    )


def test_linreg_fit_normal_matches_numpy(spark):
    """The distributed normal equations equal a driver-local solve of
    the same system, across partitions one of which is empty."""
    df = _frame_with_empty_partition(spark)
    assert 0 in df.rdd.glom().map(len).collect()
    pdf = df.toPandas()
    x, y = np.vstack(pdf["features"].to_list()), pdf["label"].to_numpy()
    for l2 in (0.0, 0.5):
        w, b = mlops.linreg_fit_normal(df, l2=l2)
        xi = np.hstack([x, np.ones((len(x), 1))])
        reg = np.eye(4) * l2
        reg[-1, -1] = 0.0
        beta = np.linalg.solve(xi.T @ xi + reg, xi.T @ y)
        np.testing.assert_allclose(np.append(w, b), beta, rtol=1e-10, atol=1e-12)


def test_batch_sums_by_key_matches_numpy(spark):
    """Under `by`, each key's sum equals numpy's sum over that key's
    rows; integer-valued data makes the sums exact in any order."""
    df = _frame_with_empty_partition(spark).selectExpr(
        "fold", "transform(features, v -> round(v * 8)) AS features", "id AS label"
    )

    def stat(x, y, scale):
        return scale * np.concatenate([[len(y)], x.sum(axis=0), [y.sum()]])

    got = mlops.batch_sums(df, stat, ["features", "label"], by="fold", params=2.0)
    pdf = df.toPandas()
    x, y, fold = np.vstack(pdf["features"].to_list()), pdf["label"].to_numpy(), pdf["fold"].to_numpy()
    assert sorted(got) == [0, 1, 2]
    for k, total in got.items():
        m = fold == k
        want = 2.0 * np.concatenate([[m.sum()], x[m].sum(axis=0), [y[m].sum()]])
        np.testing.assert_array_equal(total, want)
    assert mlops.batch_sums(df.limit(0), stat, ["features", "label"], by="fold") == {}
    assert mlops.batch_sums(df.limit(0), stat, ["features", "label"]) is None


def test_fitters_raise_on_empty_input(spark):
    df = spark.createDataFrame([], "fold long, features array<double>, label double")
    fits = [
        mlops.linreg_fit_normal,
        mlops.logreg_fit_newton,
        lambda d: mlops.softmax_fit_newton(d, n_classes=3),
        mlops.kfold_ridge,
    ]
    for fit in fits:
        with pytest.raises(ValueError, match="empty input"):
            fit(df)


def test_logreg_fit_unpersists_every_broadcast(spark, monkeypatch):
    """Each Newton step broadcasts its coefficients once; every such
    broadcast is unpersisted once its pass has been collected."""
    from pyspark import SparkContext
    from pyspark.broadcast import Broadcast

    made, freed = [], []
    broadcast, unpersist = SparkContext.broadcast, Broadcast.unpersist

    def tracked_broadcast(self, value):
        bc = broadcast(self, value)
        made.append(bc)
        return bc

    def tracked_unpersist(self, *args, **kwargs):
        freed.append(self)
        return unpersist(self, *args, **kwargs)

    monkeypatch.setattr(SparkContext, "broadcast", tracked_broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", tracked_unpersist)
    df = mlops.make_classification_blocks(spark, 400, 6, 8, seed=11)
    mlops.logreg_fit_newton(df, l2=1e-2, iters=5)
    assert len(made) == 5
    assert all(any(bc is f for f in freed) for bc in made)


def test_feature_passes_decode_through_arrow():
    """No pass decodes features row by row any more, and mlops neither
    imports pandas nor runs a mapInPandas pass."""
    root = pathlib.Path(wukong_spark.__file__).parent
    offenders = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if ".map(np.asarray)" in p.read_text()
    ]
    assert offenders == []
    tree = ast.parse(pathlib.Path(mlops.__file__).read_text())
    imported = {
        a.name.split(".")[0] for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names
    } | {
        n.module.split(".")[0] for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) and n.module
    }
    assert "pandas" not in imported
    assert not any(
        isinstance(n, ast.Attribute) and n.attr == "mapInPandas" for n in ast.walk(tree)
    )
