"""Self-test of the benchmark's own code at tiny sizes.

    python3 perfbench/selftest.py

Runs every workload of `BENCHMARK.json` through `perfbench/run.py --tiny`
(sf0.001 tables, small matrices, a few futures), once traced and once
untraced with one op's result deliberately corrupted, and checks that

- the last stdout line is the result object, with every metric named in
  BENCHMARK.json and nothing else, each with its unit;
- a clean traced run reports no failed op and no unattributed job;
- the corrupted op is counted: `failed` > 0 and `ok_rate` < 1.

Exits 0 when every check holds.  Takes a few minutes (each run starts the
engine twice).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.tracing import parse_metric, union_length  # noqa: E402
from perfbench.workloads import digest  # noqa: E402

#: the op corrupted in each workload's untraced run
INJECT = {"relational": "relational.q6_forecast_revenue", "linalg_dag": "dag.chain"}


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload]
    cmd += ["--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"{cmd} exited with {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(res: dict, want: dict[str, str], what: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, what
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, what
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{what}: metric names/units differ: {set(got) ^ set(want)}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} is not a number"


def unit_checks() -> None:
    a = digest(["x", "y"], [(1, 2.5), (3, None)])
    assert a == digest(["y", "x"], [(None, 3), (2.5, 1)]), "digest is column/row order dependent"
    assert a != digest(["x", "y"], [(1.0, 2.5), (3, None)]), "digest ignores int vs float"
    assert parse_metric("0 ms") == 0.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, 3 ms)") == 1.5
    assert parse_metric("total (min, med, max)\n2.0 KiB (1.0 KiB, ...)") == 2.0 / 1024
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4


def main() -> int:
    unit_checks()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == END_TO_END, "BENCHMARK.json end_to_end disagrees with perfbench/metrics.py"
    assert layer == PER_LAYER, "BENCHMARK.json per_layer disagrees with perfbench/metrics.py"
    for w in (x["name"] for x in bench["workloads"]):
        traced = run(w, 1)
        check_metrics(traced, layer, f"{w} traced")
        assert traced["correct"] and traced["failed"] == 0, f"{w}: clean run failed"
        assert traced["metrics"]["spark.unattributed_jobs"]["value"] == 0, f"{w}: unattributed jobs"
        assert traced["metrics"]["trace.span_mismatches"]["value"] == 0, f"{w}: span mismatch"
        assert traced["metrics"]["spark.jobs"]["value"] > 0, f"{w}: no jobs attributed"
        wrong = run(w, 0, "--inject-wrong", INJECT[w])
        check_metrics(wrong, e2e, f"{w} untraced")
        assert not wrong["correct"] and wrong["failed"] > 0, f"{w}: wrong result not counted"
        assert wrong["metrics"]["ok_rate"]["value"] < 1.0, f"{w}: ok_rate ignores the wrong result"
        print(f"selftest: {w} ok ({traced['attempted']} + {wrong['attempted']} ops)")
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
