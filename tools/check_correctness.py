"""Local mimic of the driver's t2 correctness gate.

Runs every registered query on Spark AND its DuckDB oracle at the given
sf dir, compares row counts + column-sorted / row-sorted values exactly,
and prints a per-query verdict.  Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wukong_spark.queries import load_all  # noqa: E402
from wukong_spark.session import (  # noqa: E402
    TABLES,
    get_spark,
    release_pending,
)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def dtype_kind(dtype) -> str:
    """Normalized dtype kind: unsigned ints fold into 'i'."""
    k = dtype.kind
    return "i" if k == "u" else k


def cells_equal(a, b) -> bool:
    # dtype-strict: the driver's value-hash is repr-sensitive, so an
    # int64 vs float64 of the same value MUST fail here (r12 lesson).
    if a is None and b is None:
        return True
    if isinstance(a, float) != isinstance(b, float):
        return False
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"columns spark={scols} duck={dcols}")
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            ak, bk = dtype_kind(a[c].dtype), dtype_kind(b[c].dtype)
            if ak != bk:
                problems.append(
                    f"col {c}: dtype kind spark={a[c].dtype} duck={b[c].dtype}"
                )
        for c in a.columns:
            av, bv = a[c].tolist(), b[c].tolist()
            bad = sum(0 if cells_equal(x, y) else 1 for x, y in zip(av, bv))
            if bad:
                i = next(
                    i for i, (x, y) in enumerate(zip(av, bv)) if not cells_equal(x, y)
                )
                problems.append(
                    f"col {c}: {bad} mismatched cells, first at row {i}: "
                    f"spark={av[i]!r} duck={bv[i]!r}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    try:
        sf_val = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf_val = 0.01
    only = set(sys.argv[2:])
    reg = load_all()
    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    n_pass = n_fail = n_skip = 0
    for name, spec in sorted(reg.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        finally:
            # free result-backing checkpoints between entries (r15)
            release_pending()
        if spec.oracle is None:
            print(f"SKIP {name}: no oracle (rows={len(spark_pdf)}) [{time.time()-t0:.1f}s]")
            n_skip += 1
            continue
        if spec.oracle_sf is not None and abs(spec.oracle_sf - sf_val) > 1e-12:
            # literal oracle captured for the gate branch only — at other
            # sf the query runs reference dims no literal can match
            print(
                f"SKIP {name}: oracle valid at sf={spec.oracle_sf} only "
                f"(rows={len(spark_pdf)}) [{time.time()-t0:.1f}s]"
            )
            n_skip += 1
            continue
        if spec.oracle_max_sf is not None and sf_val > spec.oracle_max_sf + 1e-12:
            # transitive-closure RECURSIVE oracles grind past the gate sf
            # (O(N·labels) enumeration); the Spark side still ran above —
            # record the rows-only result
            print(
                f"SKIP {name}: oracle tractable to sf={spec.oracle_max_sf} "
                f"(rows={len(spark_pdf)}) [{time.time()-t0:.1f}s]"
            )
            n_skip += 1
            continue
        try:
            duck_pdf = con.execute(spec.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = compare(spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS {name} (rows={len(spark_pdf)}) [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} no-oracle")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
