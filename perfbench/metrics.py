"""Names and units of every metric the benchmark prints.

`BENCHMARK.json` lists the same names; `perfbench/selftest.py` checks that
the two agree and that a run prints every one of them.
"""

from __future__ import annotations

from perfbench.workloads import RELATIONAL_QUERIES

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "driver_rss_mb": "MB",
    "ok_rate": "ratio",
}

#: per-pass sums over the ops of a traced pass (median over traced passes)
LAYER_SUMS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_span_s": "s",
    "spark.driver_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.result_mb": "MB",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.write_s": "s",
    "shuffle.fetch_wait_s": "s",
    "py.start_s": "s",
    "py.run_s": "s",
    "py.sent_mb": "MB",
    "py.returned_mb": "MB",
}

LINALG_OPS = ["linalg.tsqr.fused", "linalg.tsqr.materialized"]
DAG_OPS = ["dag.tree", "dag.chain", "dag.map", "dag.tree_reduce", "dag.als_fit"]

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.cleanup_s": "s",
    "session.released": "count",
    **LAYER_SUMS,
    "spark.unattributed_jobs": "count",
    "py.start_first_s": "s",
    "py.run_frac": "ratio",
    **{f"relational.{q}_s": "s" for q in RELATIONAL_QUERIES},
    **{f"{op}_s": "s" for op in LINALG_OPS},
    **{f"{op}.jobs": "count" for op in LINALG_OPS},
    **{f"{op}_s": "s" for op in DAG_OPS},
    "dag.hop_ms": "ms",
    "dag.jobs_per_s": "1/s",
    "dag.als_jobs": "count",
    "trace.overhead_s": "s",
    "trace.span_mismatches": "count",
}
