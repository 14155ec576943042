"""Plan introspection + plan-fingerprint caching.

The 100 TB discipline is enforced by *reading plans*, not guessing:
these helpers expose the formatted/executed physical plan and the
scale-relevant predicates on it (pushdown reached the scan? dims broadcast?
how many shuffles? did anything fall back to row-at-a-time Python?).
Used by tests/test_plan_shape.py and ad-hoc audits.

Reference parity note: the reference has no optimizer to introspect (its
run_spec is opaque to the scheduler, `/root/reference/Static Scheduler/
wukong/scheduler.py:444-448`); plan visibility is a capability the Spark
rebuild adds.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from wukong_spark.session import PlanCache  # noqa: F401  (re-export)


def formatted_plan(df: DataFrame) -> str:
    """`EXPLAIN FORMATTED` text of the optimized physical plan."""
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def executed_plan(df: DataFrame) -> str:
    """toString of the (possibly AQE-finalized) executed plan — call after
    an action to see runtime join/partition choices."""
    return df._jdf.queryExecution().executedPlan().toString()


def count_shuffles(plan: str) -> int:
    """Shuffle exchanges in a formatted plan (broadcast exchanges excluded)."""
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def has_pushed_filters(plan: str, *cols: str) -> bool:
    """True if the scan carries a non-empty PushedFilters list mentioning
    every given column (no cols → any non-empty list)."""
    if "PushedFilters" not in plan:
        return False
    seg = plan.split("PushedFilters")[1][:500]
    if seg.lstrip(": ").startswith("[]"):
        return False
    return all(c in seg for c in cols)


def read_schema(plan: str) -> str:
    """The pruned scan schema segment (column-pruning check)."""
    return plan.split("ReadSchema")[1][:500] if "ReadSchema" in plan else ""


def broadcast_join_count(plan: str) -> int:
    return plan.count("BroadcastHashJoin")


def has_cartesian(plan: str) -> bool:
    return "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


_TREE_RE = re.compile(r"^([:\s+\-*]*)([A-Za-z][\w ]*?)\s*\((\d+)\)\s*$")
# nodes that make the window input constant-bounded (a K-row frame —
# a window over it is fine regardless of partitioning)
_BOUNDING = {"TakeOrderedAndProject", "GlobalLimit", "CollectLimit",
             "LocalTableScan"}
_PASS_THROUGH = {"Sort", "WindowGroupLimit", "Project", "Filter",
                 "InputAdapter", "WholeStageCodegen"}


def single_partition_window_count(plan: str) -> int:
    """Window operators fed (through Sorts/Projects) by an
    ``Exchange SinglePartition`` over NON-constant-bounded input — the
    unpartitioned global-window scale killer (every row funnels through
    ONE sorting task).  A window whose input chain contains a
    TakeOrderedAndProject / GlobalLimit (a K-row frame) is exempt: the
    single partition is K rows by construction.  Scans the main plan
    tree of an EXPLAIN FORMATTED string (subquery trees excluded —
    scalar subqueries are 1-row by contract)."""
    lines = plan.splitlines()
    tree = []  # (depth, name, id) in pre-order
    for ln in lines:
        if re.match(r"^\(\d+\) ", ln):
            break
        m = _TREE_RE.match(ln)
        if m:
            tree.append((len(m.group(1)), m.group(2), int(m.group(3))))
    # node-id -> detail block (to read Exchange Arguments)
    blocks = {}
    for m in re.finditer(r"^\((\d+)\) ([^\n]*)\n((?:(?!^\(\d+\) ).*\n?)*)",
                         plan, re.M):
        blocks[int(m.group(1))] = m.group(3)

    def chain_below(i: int):
        """First-child chain from tree index i to a leaf/branch point."""
        d = tree[i][0]
        j = i + 1
        while j < len(tree) and tree[j][0] > d:
            yield j
            d = tree[j][0]
            j += 1

    n_bad = 0
    for i, (depth, name, nid) in enumerate(tree):
        if name not in ("Window", "WindowInPandas"):
            continue
        bounded = False
        single = False
        for j in chain_below(i):
            _, cname, cid = tree[j]
            if cname in _BOUNDING:
                bounded = True
                break
            if cname == "Exchange":
                if "SinglePartition" in blocks.get(cid, ""):
                    single = True
                    continue  # keep looking below for a bounding limit
                break  # keyed exchange — partitioned window, fine
            if cname in _PASS_THROUGH or cname in ("Window", "WindowInPandas"):
                continue
            if single:
                break  # unbounded op below the single-partition exchange
        if single and not bounded:
            n_bad += 1
    return n_bad


def python_eval_count(plan: str) -> tuple[int, int]:
    """(row_at_a_time, arrow_vectorized) Python boundaries in the plan.
    The first number should be 0 everywhere — BatchEvalPython is the
    slow path this engine bans from hot paths."""
    rows = plan.count("BatchEvalPython")
    # NB: count MapInArrow before MapInPandas-style nodes — the node names
    # are distinct, but keep every Python-boundary physical node listed
    arrow = (
        plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas")  # also matches ...WithState
        + plan.count("FlatMapGroupsInArrow")
        + plan.count("MapInPandas")
        + plan.count("MapInArrow")
        + plan.count("AggregateInPandas")
    )
    return rows, arrow
