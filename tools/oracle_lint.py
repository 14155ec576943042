"""Registry-wide oracle output-type lint (r12 lesson, VERDICT r12 item 2).

DuckDB silently promotes SUM(BIGINT) to HUGEINT; fetchdf() renders
HUGEINT as float64 while Spark emits int64, so the driver's
repr-sensitive value-hash fails even when every value is numerically
identical.  This lint DESCRIBEs every oracle (no execution) and rejects
any whose OUTPUT schema contains HUGEINT / UHUGEINT / DECIMAL — those
must carry an explicit outer CAST (BIGINT or DOUBLE) instead.

Second rule (r14, VERDICT r13 item 5): a SCALAR SUBQUERY `(SELECT SUM
...)` in expression context returns NULL when its predicate matches
nothing — at a tiny SF that NULL becomes a float64 NaN in fetchdf even
when the static type is BIGINT, which DESCRIBE cannot see.  Every such
subquery must be wrapped in COALESCE.  CTE bodies (`name AS (SELECT
SUM ...)`) are exempt — they are derived tables, not expression-context
scalars, and their NULLs surface as visible result cells either way.

Usage: python tools/oracle_lint.py            # lint all oracles
       python tools/oracle_lint.py name ...   # lint a subset
Exit status 1 if any oracle is flagged.
"""
from __future__ import annotations

import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
BANNED = ("HUGEINT", "UHUGEINT", "DECIMAL")

_SCALAR_SUM = re.compile(r"\(\s*SELECT\s+SUM\s*\(", re.I)


def unguarded_scalar_sums(sql: str) -> list[str]:
    """Occurrences of expression-context `(SELECT SUM...` not wrapped in
    COALESCE( — the NULL-at-tiny-SF hazard.  CTE bodies (preceded by
    `AS`) are exempt."""
    out = []
    for m in _SCALAR_SUM.finditer(sql):
        before = sql[: m.start()].rstrip()
        if before.upper().endswith("COALESCE("):
            continue
        # CTE definition: `name AS (SELECT SUM ...`
        if re.search(r"\bAS\s*$", before, re.I):
            continue
        ctx = " ".join(sql[m.start(): m.end() + 40].split())
        out.append(ctx)
    return out


def lint(oracles: dict[str, str], only: set[str] | None = None) -> list[str]:
    """Return ["name: col TYPE", ...] for every banned output column."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    bad: list[str] = []
    for name in sorted(oracles):
        if only and name not in only:
            continue
        try:
            desc = con.execute(f"DESCRIBE {oracles[name]}").fetchall()
        except Exception as e:  # noqa: BLE001
            bad.append(f"{name}: DESCRIBE failed: {str(e)[:200]}")
            continue
        for col, typ, *_ in desc:
            if any(b in typ.upper() for b in BANNED):
                bad.append(f"{name}: {col} {typ}")
        for ctx in unguarded_scalar_sums(oracles[name]):
            bad.append(f"{name}: scalar SUM subquery without COALESCE: {ctx}")
    con.close()
    return bad


def main() -> int:
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:]) or None
    bad = lint(oracles, only)
    n = len(oracles) if only is None else len(only)
    for line in bad:
        print(f"LINT {line}")
    print(f"== {n} oracles linted, {len(bad)} flagged ==")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
