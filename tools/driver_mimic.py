"""Driver-mimic correctness gate (per .claude/skills/verify/SKILL.md).

Builds a PLAIN SparkSession (non-UTC timezone, none of wukong_spark's
session tuning — exactly the environment the driver's verify uses),
imports __spark_entry__, smoke-runs entry(), then runs every queries()
entry at sf0.01 and exact-compares against oracle_sql() via DuckDB.

This is the strongest local predictor of CORRECTNESS_r{N}.json: unlike
tools/check_correctness.py it does NOT use the tuned get_spark session,
so timezone/parquet-type sensitivities surface here first.

Usage: python tools/driver_mimic.py [--json OUT.json] [query ...]
"""
from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _release_pending() -> None:
    """Free result-backing checkpoints between entries (leak audit r15) —
    exactly what a long-lived gate session should do."""
    try:
        from wukong_spark.session import release_pending

        release_pending()
    except Exception:
        pass


def _persistent_ids(spark) -> set[int]:
    """Persistent-RDD ids — the leak-audit probe (VERDICT r15 wrong #3:
    folded into the mimic so the two artifacts cannot diverge)."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}
    except Exception:
        return set()


def _purge_ids(spark, ids) -> None:
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            if int(k) in ids:
                jmap.get(k).unpersist(False)
    except Exception:
        pass


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
    # int64 12300000000 vs float64 1.23e+10 MUST fail here even though
    # they compare numerically equal (r12 lesson: 5 driver reds shipped
    # behind an int==float comparator).
    if a is None and b is None:
        return True
    if isinstance(a, float) != isinstance(b, float):
        return False
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def main() -> None:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("usage: driver_mimic.py [--json OUT.json] [query ...]")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    only = set(args)
    results: dict[str, dict] = {}
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("driver-mimic")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    rows = entrymod.entry(spark).collect()
    print(f"entry(): {len(rows)} rows", file=sys.stderr)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    npass = nfail = nnoor = nleak = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        before = _persistent_ids(spark)
        try:
            got = qs[name](spark, SF).toPandas()
            _release_pending()
        except Exception as e:
            _release_pending()
            _purge_ids(spark, _persistent_ids(spark) - before)
            print(f"FAIL {name}: spark error {e}")
            results[name] = {"status": "fail", "err": f"spark error {e}"[:300]}
            nfail += 1
            continue
        # leak assertion (the per-entry register/release contract): after
        # release_pending, no persistent RDD created by the entry survives
        leaked = _persistent_ids(spark) - before
        if leaked:
            nleak += 1
            print(f"LEAK {name}: {len(leaked)} surviving persistent RDDs")
            _purge_ids(spark, leaked)  # don't cascade into later entries
        if name not in oracles:
            nnoor += 1
            print(f"noor {name}: {len(got)} rows ({time.time()-t0:.1f}s)")
            results[name] = {"status": "no_oracle", "rows": len(got)}
            continue
        want = con.execute(oracles[name]).fetchdf()
        g, w = normalize(got), normalize(want)
        probs = []
        if list(g.columns) != list(w.columns):
            probs.append(f"columns {list(g.columns)} != {list(w.columns)}")
        elif len(g) != len(w):
            probs.append(f"rowcount {len(g)} != {len(w)}")
        else:
            for c in g.columns:
                gk, wk = dtype_kind(g[c].dtype), dtype_kind(w[c].dtype)
                if gk != wk:
                    probs.append(
                        f"col {c}: dtype kind spark={g[c].dtype} duck={w[c].dtype}"
                    )
            for c in g.columns:
                bad = [
                    (i, x, y)
                    for i, (x, y) in enumerate(zip(g[c].tolist(), w[c].tolist()))
                    if not cells_equal(x, y)
                ]
                if bad:
                    probs.append(f"col {c}: {len(bad)} diffs, first {bad[0]}")
        if probs:
            nfail += 1
            print(f"FAIL {name}: {probs}")
            results[name] = {
                "status": "fail",
                "rows": len(g),
                "oracle_rows": len(w),
                "err": "; ".join(str(p)[:200] for p in probs),
            }
        else:
            npass += 1
            print(f"pass {name} ({time.time()-t0:.1f}s)")
            results[name] = {
                "status": "pass",
                "rows": len(g),
                "secs": round(time.time() - t0, 1),
            }
        if leaked:
            results[name]["leaked_rdds"] = len(leaked)
    print(f"== {npass} pass, {nfail} fail, {nnoor} no-oracle, {nleak} leaked ==")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {
                    "summary": {
                        "pass": npass,
                        "fail": nfail,
                        "no_oracle": nnoor,
                        "leaked": nleak,
                    },
                    "results": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_out}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
