"""Post-entry RDD-leak audit (VERDICT r14 item 4).

Runs every registry entry, collects its result (as the driver does),
then asserts that NO persistent RDDs created by the entry survive —
i.e. the checkpoint/persist release discipline (ADVICE r13's leak
class, suspected in the graph_kcore_bucketed 113s watch item) holds
registry-wide.  Operators make their checkpoints through a
`wukong_spark.session.Checkpoints` scope, which frees them on exit; a
checkpoint the RETURNED plan reads (converged iterations) is kept into
the result registry (`ck.keep`, or `register_result_checkpoint` for a
one-shot result).  The audit releases registered frames with
`release_pending()` AFTER consuming the result — exactly what a
long-lived gate session should do between entries — and only what
survives *that* counts as a leak.

Usage: python tools/leak_audit.py [SF_DIR] [--json OUT.json] [entry ...]
Exit 0 iff every entry leaks nothing.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def persistent_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def purge_ids(spark, ids) -> int:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist(False)
            n += 1
    return n


def main() -> int:
    args = [a for a in sys.argv[1:]]
    out_json = None
    if "--json" in args:
        i = args.index("--json")
        out_json = args[i + 1]
        del args[i : i + 2]
    sf = "/root/testdata/sf0.001"
    if args and "/" in args[0]:
        sf = args.pop(0)

    import __spark_entry__ as mod
    from wukong_spark.session import get_spark, release_pending

    spark = get_spark("leak-audit", shuffle_partitions=8)
    qs = mod.queries()
    names = args or sorted(qs)

    results = {}
    n_leaked_entries = 0
    for name in names:
        before = persistent_rdd_ids(spark)
        t0 = time.time()
        try:
            df = qs[name](spark, sf)
            nrows = len(df.collect())
        except Exception as exc:  # noqa: BLE001
            results[name] = {"error": str(exc)[:200]}
            print(f"ERROR {name}: {str(exc)[:120]}")
            n_leaked_entries += 1
            release_pending()
            purge_ids(spark, persistent_rdd_ids(spark) - before)
            continue
        released = release_pending()
        leaked = persistent_rdd_ids(spark) - before
        purge_ids(spark, leaked)  # keep the session clean either way
        dt = time.time() - t0
        results[name] = {
            "rows": nrows,
            "released": released,
            "leaked": len(leaked),
            "sec": round(dt, 2),
        }
        status = "LEAK" if leaked else "ok"
        if leaked:
            n_leaked_entries += 1
            print(f"{status} {name}: {len(leaked)} persistent RDD(s) "
                  f"survived ({released} released cleanly) [{dt:.1f}s]")
        else:
            print(f"{status} {name} ({released} registered released) [{dt:.1f}s]")
    summary = {
        "entries": len(names),
        "leaking": n_leaked_entries,
        "results": results,
    }
    if out_json:
        with open(out_json, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
    print(f"== {len(names)} entries, {n_leaked_entries} leaking ==")
    return 1 if n_leaked_entries else 0


if __name__ == "__main__":
    raise SystemExit(main())
