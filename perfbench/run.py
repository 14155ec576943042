"""Benchmark launcher: one workload, one seed, one JSON line of results.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The launcher pins what differs from host
to host (cores, driver heap, scratch directories, the workers' import
path), prepares the seeded inputs and their reference answers, and runs
the workload in a fresh engine process.  The last line of standard output
is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (`--trace 0`) or every per-layer metric
(`--trace 1`; spans go to `.perfbench-out/`).  All scratch files live under
`.perfbench-work/` in the checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("relational", "linalg_dag")
#: the whole run must end within this many seconds
BUDGET_S = 170.0
#: time kept back after the passes for stopping the engine
STOP_RESERVE_S = 20.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--cores", type=int, default=4, help="Spark task slots and client threads")
    ap.add_argument("--driver-mem", default="1g", help="driver JVM heap (pinned, pre-touched)")
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument("--inject-wrong", default=None, help="corrupt this op's result (self-test)")
    return ap.parse_args(argv)


def pinned_env(args, cores: int, work: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEM": args.driver_mem,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # the JVM's temp files and no hsperfdata under /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # Python workers import wukong_spark (and perfbench) from here
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return env


def stop_session(sid: int) -> None:
    """Kill every process left in a worker's session (the JVM, the Python
    worker daemon and its workers) and wait until all are gone.  Their
    scratch files live under the run's work dir, which the launcher
    removes."""
    from perfbench.procstat import session_pids

    end = time.time() + 20
    while pids := session_pids(sid):
        if time.time() > end:
            print(f"perfbench: processes {pids} survived SIGKILL", file=sys.stderr)
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def run_worker(cfg: dict, env: dict, work: str, tag: str, timeout: float) -> dict:
    cfg = dict(cfg, out=os.path.join(work, f"{tag}.out.json"), t_spawn=time.time())
    path = os.path.join(work, f"{tag}.cfg.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(work, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", path],
            cwd=work,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_session(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(cfg["out"]):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-6000:]
        sys.stderr.write(tail)
        why = "timed out" if rc is None else f"exited with {rc}"
        raise RuntimeError(f"benchmark process {tag} {why}")
    with open(cfg["out"]) as f:
        res = json.load(f)
    res["process_s"] = time.time() - cfg["t_spawn"]
    return res


def prepare(args, work: str) -> dict:
    """Seeded inputs and reference answers that need no engine."""
    if args.workload != "relational":
        return {}
    from perfbench import workloads as wl
    from perfbench.datagen import write_tables

    sizes = wl.TINY if args.tiny else wl.FULL
    data_dir = os.path.join(work, "data")
    write_tables(args.seed, sizes.sf, data_dir)
    expected = os.path.join(work, "expected.json")
    with open(expected, "w") as f:
        json.dump({"relational": wl.oracle_digests(data_dir, wl.RELATIONAL_QUERIES)}, f)
    return {"data_dir": data_dir, "expected": expected}


def main(argv=None) -> int:
    t_begin = time.time()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "wukong_spark", "__init__.py")):
        print(f"perfbench: no wukong_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.metrics import END_TO_END, PER_LAYER

    cores = max(1, min(args.cores, len(os.sched_getaffinity(0))))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = pinned_env(args, cores, work)
        deadline = t_begin + BUDGET_S
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": cores,
            "tiny": args.tiny,
            "inject_wrong": args.inject_wrong,
            "warehouse": os.path.join(work, "warehouse"),
            **prepare(args, work),
        }
        t_prepared = time.time()
        cfg["deadline"] = deadline - STOP_RESERVE_S
        res = run_worker(cfg, env, work, "run", deadline - time.time())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench-out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"per_layer": res["per_layer"], "spans": res["spans"]}, f)
        values = dict(res["per_layer"], **{k: res[k] for k in ("session.start_s", "session.warmup_s")})
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": res["setup_s"],
            "first_pass_s": res["first_pass_s"],
            "pass_s": res["pass_s"],
            "pass_cpu_s": res["pass_cpu_s"],
            "driver_rss_mb": res["driver_rss_mb"],
            "ok_rate": 1.0 - res["failed"] / res["attempted"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    for op, walls in res["op_walls"].items():
        print(f"perfbench: op {op} wall per pass {walls}", file=sys.stderr)
    for line in res["failures"]:
        print(f"perfbench: failed op: {line}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed {args.seed}: {res['passes']} steady passes, "
        f"setup {res['setup_s']:.2f} s, prepare {t_prepared - t_begin:.1f} s, "
        f"ops set-up {res['build_s']:.1f} s, "
        f"run process {res['process_s']:.1f} s, {time.time() - t_begin:.1f} s total",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
