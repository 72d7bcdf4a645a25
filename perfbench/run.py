#!/usr/bin/env python3
"""Crawl benchmark: one command over the crawl workloads.

    python3 perfbench/run.py --workload mature_round --seed 1 \
        --seconds 40 --trace 0

runs one workload and prints, as its last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a report with the workload's named metrics
(``round_s_p50``, ``frontier_rows_per_s``, ...) and their units.
A workload runs a fixed number of steps; ``--seconds`` is a safety
limit (a step that would start after it is not run and counts as
failed).  ``--workload all`` runs every workload untraced and traced and
prints a table.  Exit code 0 = every output check passed, 1 = a check or step
failed, 2 = the program under test is missing.

The run is a child process (``workloads.py``) in its own session, with
Spark's scratch, temp and warehouse directories, corpora and workdirs
under ``perfbench/.work``; peak RSS of the child and its JVM is sampled
from ``/proc`` while it runs.  See README.md for metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = os.path.join(ROOT, "open_source_search_engine_spark")
# The BENCHMARK.json workloads.  discovery_crawl runs in ``--workload
# all`` and alone: one run of it takes minutes, more than the 180 s a
# benchmark run may take (README).
WORKLOADS = ("mature_round", "seed_ingest")
ALL = WORKLOADS + ("discovery_crawl",)
CHILD_LIMIT_S = 170.0   # a benchmark run must end within 180 s
ALL_LIMIT_S = 900.0
# A 2 GB heap cap instead of the program's 8 GB default, and no initial
# size, so RSS follows what the crawl uses below the cap.  G1 grows the
# heap when its pause time share passes GCTimeRatio, and pause times
# stretch with other tenants' load: peak RSS spread 0.27-0.35 over five
# seeds under 8 GB and up to 0.25 over ten under 2 GB (README).  A fixed
# young generation and GCTimeRatio=1 leave growth to the data the crawl
# retains.
DRIVER_MEM = "2g"
JVM_OPTS = "-XX:-UsePerfData -Xmn512m -XX:GCTimeRatio=1"

# End-to-end metrics, printed for every workload.  Times are CPU seconds
# of the benchmark's process group (driver Python, JVM, Python workers):
# on a shared host wall time drifts with other tenants' load (README).
# A step is one run_round on the crawl workloads and one add-url drain
# (plus the due compaction) on seed_ingest; work is frontier rows,
# add-url lines or fetched pages.
E2E_UNITS = {"setup_s": "s", "step_cpu_s_p50": "s", "step_cpu_s_max": "s",
             "work_per_cpu_s": "1/s", "peak_rss_mb": "MB",
             "state_bytes_per_row": "B/row"}

LAYER_UNITS = {
    "scheduler.init_s": "s", "scheduler.round_self_s": "s",
    "scheduler.spark_jobs_per_round": "count",
    "scheduler.spark_stages_per_round": "count",
    "scheduler.spark_tasks_per_round": "count",
    "scheduler.scheduled_ratio": "ratio",
    "budget.select_s": "s", "budget.seq_s": "s",
    "budget.boundary_rows": "rows",
    "snapstore.append_s": "s", "snapstore.overwrite_s": "s",
    "snapstore.commits": "count", "snapstore.bytes_written": "B",
    "snapstore.files_written": "count", "snapstore.read_dirs": "count",
    "compaction.s": "s", "compaction.bytes_rewritten": "B",
    "cuckoo.build_s": "s", "cuckoo.insert_s": "s",
    "cuckoo.rebuilds": "count", "cuckoo.exact_fallbacks": "rows",
    "udfs.python_rows": "rows", "udfs.python_s": "s",
    "ingest.add_batch_s": "s", "ingest.planning_s": "s",
    "ingest.rows_per_batch": "rows",
    "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
    "spark.task_skew": "ratio", "spark.executor_busy_ratio": "ratio",
}


def log(msg: str):
    print(msg, file=sys.stderr, flush=True)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def child_env(trace: int, cpus: int) -> dict:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "OSSE_", "PYSPARK_"))}
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.sql.warehouse.dir="
        + os.path.join(WORK, "warehouse"),
        "--conf", "spark.driver.extraJavaOptions="
        f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
        "pyspark-shell",
    ]
    env.update({
        # Python UDF workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_UI": "1" if trace else "0",
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit),
        "PYSPARK_PYTHON": sys.executable,
    })
    return env


def _group_alive(pgid: int) -> list[int]:
    return [pid for pid, p in procfs.procs().items()
            if p.pgrp == pgid and p.state != "Z"]


def _stop_group(pgid: int):
    """Terminate what is left of the child's session, then wait for it."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait
        while time.time() < end and _group_alive(pgid):
            time.sleep(0.1)


def run_child(workload: str, seed: int, seconds: float, trace: int,
              scale: str, limit_s: float) -> dict | None:
    cpus = nproc()
    run_dir = os.path.join(WORK, "runs",
                           f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--scale", scale, "--cpus", str(cpus),
           "--work", WORK, "--run", run_dir, "--out", out]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(trace, cpus),
                            stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    hwm: dict[int, int] = {}
    deadline = time.time() + limit_s
    timed_out = False
    try:
        while proc.poll() is None:
            if time.time() > deadline:
                timed_out = True
                break
            watch = [proc.pid] + [pid for pid, p in procfs.procs().items()
                                  if p.pgrp == proc.pid and p.comm == "java"
                                  and p.state != "Z"]
            for pid in watch:
                hwm[pid] = max(hwm.get(pid, 0), procfs.hwm_kb(pid))
            time.sleep(0.2)
    finally:
        _stop_group(proc.pid)
        proc.wait()
    res = None
    if not timed_out and proc.returncode == 0 and os.path.exists(out):
        with open(out) as f:
            res = json.load(f)
        res["e2e"]["peak_rss_mb"] = sum(hwm.values()) / 1024.0
    elif timed_out:
        log(f"perfbench: {workload} exceeded {limit_s:.0f} s")
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def measure(workload: str, seed: int, seconds: float, trace: int,
            scale: str, limit_s: float = CHILD_LIMIT_S,
            base: dict | None = None) -> dict | None:
    """One child run.  A traced run also gets its overhead against an
    untraced run of the same seed made in this invocation: ``base`` when
    the caller has one, else one made right after the traced run if the
    time limit leaves room for it; without one it is unavailable."""
    t0 = time.time()
    res = run_child(workload, seed, seconds, trace, scale, limit_s)
    if res is None or not trace:
        return res
    spent = time.time() - t0
    if base is None and limit_s - spent > 1.2 * spent:
        base = run_child(workload, seed, seconds, 0, scale, limit_s - spent)
    res["overhead"] = None
    if base is None:
        log("perfbench: no untraced run of this seed in this invocation; "
            "tracing overhead unavailable")
    else:
        t_on = res["named"]["step_s_p50"][0]
        t_off = base["named"]["step_s_p50"][0]
        res["overhead"] = {"trace_overhead_s": (t_on - t_off, "s"),
                           "trace_overhead_ratio": (t_on / t_off - 1,
                                                    "ratio")}
    return res


def report(res: dict) -> dict:
    """The workload's named metrics with units, failed_ops_ratio and,
    for a traced run, the tracing overhead."""
    out = {k: {"value": v, "unit": u} for k, (v, u) in res["named"].items()}
    out["peak_rss_mb"] = {"value": res["e2e"]["peak_rss_mb"], "unit": "MB"}
    out["failed_ops_ratio"] = {"value": res["failed"] / res["attempted"],
                               "unit": "ratio"}
    if res["trace"]:
        over = res["overhead"] or {}
        for k, u in (("trace_overhead_s", "s"),
                     ("trace_overhead_ratio", "ratio")):
            v, _ = over.get(k, ("unavailable", u))
            out[k] = {"value": v, "unit": u}
    return out


def result_line(res: dict, trace: int) -> dict:
    if trace:
        metrics = {k: {"value": res["layers"][k], "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    return {"correct": bool(res["correct"]), "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def _print_checks(res: dict):
    for c in res["checks"]:
        log(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED'}"
            f" - {c['detail']}")


def run_all(seed: int, scale: str) -> int:
    """Every workload, untraced then traced.  Not bound by the per-run
    limit of the BENCHMARK.json workloads (discovery_crawl alone takes
    minutes): each child's only limit is ``ALL_LIMIT_S``."""
    rows, ok = [], True
    for w in ALL:
        plain = measure(w, seed, ALL_LIMIT_S, 0, scale, ALL_LIMIT_S)
        traced = (measure(w, seed, ALL_LIMIT_S, 1, scale, ALL_LIMIT_S,
                          base=plain) if plain else None)
        if plain is None or traced is None:
            log(f"perfbench: {w} did not finish")
            ok = False
            continue
        _print_checks(plain)
        ok = ok and plain["correct"] and traced["correct"]
        rep = report(plain)
        for k, (v, u) in traced["overhead"].items():
            rep[k] = {"value": v, "unit": u}
        print(json.dumps({"workload": w, "report": rep,
                          "layers": traced["layers"]}))
        for k, m in rep.items():
            rows.append((w, k, m["value"], m["unit"]))
    for w, k, v, u in rows:
        print(f"{w:16s} {k:24s} {v:14.4f} {u}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=ALL + ("all",),
                    required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=40.0,
                    help="safety limit: no step starts after it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny = the smoke-test sizes")
    args = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        log(f"perfbench: {PACKAGE} not found; run from a checkout of "
            "the repository root")
        return 2
    os.makedirs(WORK, exist_ok=True)
    if args.workload == "all":
        return run_all(args.seed, args.scale)
    res = measure(args.workload, args.seed, args.seconds, args.trace,
                  args.scale)
    if res is None:
        return 1
    _print_checks(res)
    if args.trace:
        log(f"  spans: {res.get('n_spans', 0)} in {res.get('spans_file')}")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "report": report(res),
                      "schedule_pin": res.get("observed_pin"),
                      "corpus_s": res["corpus_s"],
                      "steps_s": [s["s"] for s in res["steps"]],
                      "spark_start_s": res["spark_start_s"]}))
    print(json.dumps(result_line(res, args.trace)))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
