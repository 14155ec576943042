"""Spans and per-layer numbers for the traced run.

The benchmark records one span per op (workload, pass, op, start, end,
parent = the pass span) in memory and writes them out when the run ends.
Per-layer numbers come from Spark's own status REST API (UI on): the jobs
of each op, their stages' task metrics, and the SQL metrics of the Python
exec nodes of each SQL execution.

Jobs are attributed to an op by the job group the benchmark sets before
calling it (`perfbench-<pass>-<op>`).  The taskgraph client runs each task
under a `wukong-*` group of its own, so ops marked `by_window` take the jobs
submitted inside their time window instead.
"""

from __future__ import annotations

import json
import re
import urllib.request
from datetime import datetime, timezone

from perfbench.metrics import LAYER_SUMS

#: Python-boundary SQL metrics (MapInArrow, MapInPandas,
#: FlatMapGroupsInPandas, ArrowEvalPython, ...), summed per op
PY_METRICS = {
    "time to start Python workers": "py.start_s",
    "time to initialize Python workers": "py.start_s",
    "time to run Python workers": "py.run_s",
    "data sent to Python workers": "py.sent_mb",
    "data returned from Python workers": "py.returned_mb",
}

_UNITS = {
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "B": 1.0 / 2**20,
    "KiB": 1.0 / 2**10,
    "MiB": 1.0,
    "GiB": 2.0**10,
    "TiB": 2.0**20,
}
_VALUE = re.compile(r"^\s*(-?[\d.]+)\s*([A-Za-z]+)")
#: job intervals come from the UI at millisecond resolution
CLOCK_SLACK_S = 0.002


def job_group(p: int, op: str) -> str:
    return f"perfbench-{p}-{op}"


def parse_metric(value: str) -> float:
    """'total (min, med, max ...)\\n1.5 s (...)' or '0 ms' -> seconds / MB."""
    line = value.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value {value!r}")
    return float(m.group(1)) * _UNITS[m.group(2)]


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Records spans and turns the REST API's job, stage and SQL data into
    per-op layer numbers."""

    def __init__(self, sc, workload: str):
        self.workload = workload
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.spans: list[dict] = []

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def span(self, p: int, name: str, start: float, end: float, parent: int | None, **kw):
        self.spans.append(
            {
                "id": len(self.spans),
                "parent": parent,
                "workload": self.workload,
                "pass": p,
                "name": name,
                "start": start,
                "end": end,
                **kw,
            }
        )
        return len(self.spans) - 1

    def collect(self, p: int, op_spans: list[dict], pass_start: float, pass_end: float) -> dict:
        """Per-op layer numbers for one traced pass.

        `op_spans` hold name, start, end (the op call) and by_window.  Each
        op's jobs must lie inside its window; the union of their intervals
        (clipped to the window) is `spark.job_span_s` and the rest of the
        wall is `spark.driver_s`.  Jobs submitted during the pass that
        belong to no op are `spark.unattributed_jobs`."""
        jobs = self._get("/jobs")
        stages = {}
        for st in self._get("/stages"):
            stages.setdefault(st["stageId"], []).append(st)
        sql = self._get("/sql?details=true&planDescription=false&length=100000")
        job_exec = {}
        for ex in sql:
            for j in ex.get("successJobIds", []) + ex.get("failedJobIds", []):
                job_exec[j] = ex

        mine = []
        for j in jobs:
            t0 = _ts(j.get("submissionTime"))
            if t0 is None or not (pass_start - CLOCK_SLACK_S <= t0 <= pass_end + CLOCK_SLACK_S):
                continue
            mine.append((j, t0, _ts(j.get("completionTime")) or pass_end))

        taken: set[int] = set()
        per_op: dict[str, dict] = {}
        mismatches = 0
        for o in op_spans:
            lo, hi = o["start"] - CLOCK_SLACK_S, o["end"] + CLOCK_SLACK_S
            if o["by_window"]:
                js = [x for x in mine if lo <= x[1] <= hi]
            else:
                group = job_group(p, o["name"])
                js = [x for x in mine if x[0].get("jobGroup") == group]
            for j, a, b in js:
                taken.add(j["jobId"])
                if a < lo or b > hi:
                    mismatches += 1  # a labelled job ran outside its op
            wall = o["end"] - o["start"]
            span = union_length(
                [(max(a, o["start"]), min(b, o["end"])) for _, a, b in js if b > a]
            )
            # every job lies inside the window (else a mismatch above), so
            # clipping changes nothing and job span + driver time = wall
            m = dict.fromkeys(LAYER_SUMS, 0.0)
            m.update(
                {
                    "wall_s": wall,
                    "spark.jobs": len(js),
                    "spark.job_span_s": span,
                    "spark.driver_s": wall - span,
                }
            )
            if span > wall:
                mismatches += 1
            execs = {}
            for j, _, _ in js:
                for sid in j["stageIds"]:
                    for st in stages.get(sid, []):
                        if st["status"] not in ("COMPLETE", "FAILED"):
                            continue
                        m["spark.stages"] += 1
                        m["spark.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                        m["exec.run_s"] += st["executorRunTime"] / 1e3
                        m["exec.cpu_s"] += st["executorCpuTime"] / 1e9
                        m["exec.gc_s"] += st["jvmGcTime"] / 1e3
                        m["exec.result_mb"] += st["resultSize"] / 2**20
                        m["shuffle.write_mb"] += st["shuffleWriteBytes"] / 2**20
                        m["shuffle.read_mb"] += st["shuffleReadBytes"] / 2**20
                        m["shuffle.write_s"] += st["shuffleWriteTime"] / 1e9
                        m["shuffle.fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
                ex = job_exec.get(j["jobId"])
                if ex is not None:
                    execs[ex["id"]] = ex
            for ex in execs.values():
                for node in ex.get("nodes", []):
                    for met in node.get("metrics", []):
                        key = PY_METRICS.get(met["name"])
                        if key:
                            m[key] += parse_metric(met["value"])
            per_op[o["name"]] = m

        unattributed = sum(1 for j, _, _ in mine if j["jobId"] not in taken)
        return {"ops": per_op, "unattributed": unattributed, "mismatches": mismatches}
