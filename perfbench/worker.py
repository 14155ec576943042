"""One benchmark process: start the engine, run a workload's passes, write
the measurements as JSON.

Started by `perfbench/run.py` (never by hand) as
`python3 -m perfbench.worker <config.json>`, with the environment the
launcher pins.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
import traceback


#: steady passes per run, at least
MIN_PASSES = 1


def _square(x: int) -> int:
    return x * x


def corrupt(res):
    """A deliberately wrong copy of an op result (self-test only)."""
    import numpy as np

    if isinstance(res, tuple) and len(res) == 2 and isinstance(res[1], list):
        cols, rows = res  # a relational result
        return cols, rows[:-1] if rows else [tuple(0 for _ in cols)]
    if isinstance(res, tuple):
        return (corrupt(res[0]),) + res[1:]
    if isinstance(res, np.ndarray):
        return res * (1 + 1e-6) + 1e-6
    if isinstance(res, list):
        return [corrupt(res[0])] + res[1:]
    if isinstance(res, dict):
        k = next(iter(res))
        return {**res, k: corrupt(res[k])}
    if isinstance(res, int):
        return res + 1
    return res * (1 + 1e-6) + 1e-6


def start_engine(cfg: dict):
    """Session start and warm-up: JVM up, one Python-worker job across every
    core.  Returns (spark, start_s, warmup_s, setup_s)."""
    from wukong_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": cfg["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }
    if cfg["trace"]:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    t0 = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.time()
    n = cfg["cores"]
    if spark.sparkContext.parallelize(range(n), n).map(_square).sum() != sum(
        i * i for i in range(n)
    ):
        raise RuntimeError("warm-up job returned a wrong sum")
    t2 = time.time()
    return spark, t1 - t0, t2 - t1, t2 - cfg["t_spawn"]


class Runner:
    def __init__(self, cfg: dict, spark):
        from perfbench import workloads as wl

        self.cfg, self.spark, self.sc = cfg, spark, spark.sparkContext
        self.sizes = wl.TINY if cfg["tiny"] else wl.FULL
        ctx = {
            "seed": cfg["seed"],
            "cores": cfg["cores"],
            "data_dir": cfg.get("data_dir"),
            "expected": {},
        }
        if cfg.get("expected"):
            with open(cfg["expected"]) as f:
                ctx["expected"] = json.load(f)
        w = cfg["workload"]
        self.client = None
        if w == "relational":
            self.ops = wl.relational_ops(spark, ctx, self.sizes)
        elif w == "linalg_dag":
            from wukong_spark.taskgraph import WukongClient

            self.client = WukongClient(spark, max_workers=cfg["cores"])
            self.ops = wl.linalg_dag_ops(spark, ctx, self.sizes, self.client)
        else:
            raise ValueError(f"unknown workload {w}")
        self.tracer = None
        if cfg["trace"]:
            from perfbench.tracing import Tracer

            self.tracer = Tracer(self.sc, w)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.deferred: list[tuple] = []  # (pass, op, result) checked at the end
        self.op_walls: dict[str, list[float]] = {}  # per pass, for the log

    def run_pass(self, p: int, traced: bool) -> dict:
        from perfbench.procstat import tree_cpu_s
        from perfbench.tracing import job_group
        from wukong_spark.session import release_pending

        sc = self.sc
        out = {"wall_s": 0.0, "cpu_s": 0.0, "cleanup_s": 0.0, "released": 0, "trace_s": 0.0}
        spans, t_pass = [], time.time()
        for op in self.ops:
            c0, t0 = tree_cpu_s(), time.time()
            if traced and not op.by_window:
                sc.setJobGroup(job_group(p, op.name), op.name)
            err = res = None
            t_op = time.time()
            try:
                res = op.run(p)
            except Exception as e:  # an op failure is counted, not fatal
                err = e
            t_done = time.time()
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            t1 = time.time()
            out["trace_s"] += (t_op - t0) + (t1 - t_done)
            out["released"] += release_pending()
            self.spark.catalog.clearCache()
            t2 = time.time()
            out["cpu_s"] += tree_cpu_s() - c0
            out["wall_s"] += t2 - t0
            out["cleanup_s"] += t2 - t1
            spans.append({"name": op.name, "start": t0, "end": t1, "by_window": op.by_window})
            self.op_walls.setdefault(op.name, []).append(round(t2 - t0, 3))
            if err is None and self.cfg.get("inject_wrong") == op.name:
                res = corrupt(res)
            self.attempted += 1
            if err is None and op.deferred:
                self.deferred.append((p, op, res))
            else:
                self.settle(p, op, res, err)
        t_end = time.time()
        if traced:
            tr = self.tracer
            pid = tr.span(p, f"pass-{p}", t_pass, t_end, None, wall_s=out["wall_s"])
            for s in spans:
                tr.span(p, s["name"], s["start"], s["end"], pid)
            out["trace"] = tr.collect(p, spans, t_pass, t_end)
        return out

    def settle(self, p: int, op, res, err: Exception | None) -> None:
        """Check one op's result (unless it already raised) and count it."""
        if err is None:
            try:
                op.check(p, res)
            except Exception as e:  # WrongResult, or a check that crashed
                err = e
        if err is not None:
            self.failed += 1
            self.failures.append(f"pass {p} {op.name}: {type(err).__name__}: {err}"[:2000])
            traceback.print_exception(err, file=sys.stderr)

    def measure(self) -> dict:
        cfg = self.cfg
        traced_mode = bool(cfg["trace"])
        first = self.run_pass(0, traced_mode)
        steady: list[dict] = []
        t_start, p = time.time(), 1
        while True:
            enough = time.time() - t_start >= cfg["seconds"] and len(steady) >= MIN_PASSES
            last = (steady or [first])[-1]["wall_s"]
            if enough or time.time() + 1.5 * last > cfg["deadline"]:
                break
            steady.append(self.run_pass(p, traced_mode))
            p += 1
        if not steady:
            raise RuntimeError("no steady pass fitted before the deadline")
        from perfbench.procstat import peak_rss_mb

        rss = peak_rss_mb()
        for p, op, r in self.deferred:
            self.settle(p, op, r, None)
        res = {
            "driver_rss_mb": rss,
            "first_pass_s": first["wall_s"],
            "pass_s": statistics.median([r["wall_s"] for r in steady]),
            "pass_cpu_s": statistics.median([r["cpu_s"] for r in steady]),
            "passes": len(steady),
            "attempted": self.attempted,
            "failed": self.failed,
            "failures": self.failures,
            "op_walls": self.op_walls,
        }
        if traced_mode:
            res["per_layer"] = self.per_layer(first, steady)
            res["spans"] = self.tracer.spans
        return res

    def per_layer(self, first: dict, steady: list[dict]) -> dict:
        from perfbench.metrics import LAYER_SUMS, PER_LAYER

        out = {k: 0.0 for k in PER_LAYER}
        rows = []
        for r in steady:
            ops = r["trace"]["ops"]
            row = {k: sum(o[k] for o in ops.values()) for k in LAYER_SUMS}
            row["session.cleanup_s"] = r["cleanup_s"]
            row["session.released"] = r["released"]
            row["trace.overhead_s"] = r["trace_s"]
            dag_jobs = dag_wall = 0.0
            for op in self.ops:
                o = ops[op.name]
                row[f"{op.name}_s"] = o["wall_s"]
                if op.jobs_name:
                    row[op.jobs_name] = o["spark.jobs"]
                if op.name.startswith("dag."):
                    dag_jobs += o["spark.jobs"]
                    dag_wall += o["wall_s"]
            if "dag.chain_s" in row:
                row["dag.hop_ms"] = 1e3 * row["dag.chain_s"] / self.sizes.chain_hops
            if dag_wall:
                row["dag.jobs_per_s"] = dag_jobs / dag_wall
            row["py.run_frac"] = row["py.run_s"] / row["exec.run_s"] if row["exec.run_s"] else 0.0
            rows.append(row)
        for k in rows[0]:
            out[k] = statistics.median([row[k] for row in rows])
        every = [first] + steady
        out["spark.unattributed_jobs"] = sum(r["trace"]["unattributed"] for r in every)
        out["trace.span_mismatches"] = sum(r["trace"]["mismatches"] for r in every)
        out["py.start_first_s"] = sum(o["py.start_s"] for o in first["trace"]["ops"].values())
        return out


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    spark, start_s, warmup_s, setup_s = start_engine(cfg)
    result = {"setup_s": setup_s, "session.start_s": start_s, "session.warmup_s": warmup_s}
    runner = None
    try:
        t0 = time.time()
        runner = Runner(cfg, spark)
        result["build_s"] = time.time() - t0
        result.update(runner.measure())
    finally:
        if runner is not None and runner.client is not None:
            runner.client.close()
    if not all(math.isfinite(v) for v in result.values() if isinstance(v, float)):
        raise RuntimeError(f"non-finite measurement in {result}")
    with open(cfg["out"], "w") as f:
        json.dump(result, f)
    # the launcher kills the JVM and the Python workers
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
