"""Traced-run instrumentation: in-memory spans around the program's public
callables, plus Spark's own counters (status tracker and the local REST
API).  Nothing here is imported by an untraced run.

A span is {id, parent, name, phase, start, end, attrs}.  Wrappers are
installed on module/class attributes, so callers that import the target
at call time (the scheduler's ``from ..operators.cuckoo import ...``) or
reach it through a module (``budget_ops.budget_select``) see the wrapper.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import statistics
import threading
import time
import urllib.request

import procfs

TRACE_GROUP = "perfbench-trace"


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (children of one span may overlap: the round commits run on a
    thread pool)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


class Tracer:
    """Records spans in memory; ``install()`` wraps the layer boundaries,
    ``uninstall()`` restores them."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.phase = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self._owned: list = []   # DataFrames the wrappers persisted
        self.queries: list = []  # streaming queries started in a step
        self._pending_fallbacks = 0

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, fn, *a, post=None, **kw):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        rec = {"id": sid, "parent": parent, "name": name,
               "phase": self.phase, "attrs": {}}
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            out = fn(*a, **kw)
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
        if post is not None:
            post(rec, out, a, kw)
        return out

    def _wrap(self, owner, attr: str, name: str, post=None, around=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            call = around(orig) if around is not None else orig
            return tracer.span(name, call, *a, post=post, **kw)

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    # -- side jobs that must not count as program work ------------------
    def side_job(self, fn):
        sc = self.spark.sparkContext
        gid = sc.getLocalProperty("spark.jobGroup.id")
        desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(TRACE_GROUP, "perfbench trace probe")
        try:
            return fn()
        finally:
            sc.setJobGroup(gid or "", desc or "")

    def _materialize(self, orig):
        """Run a lazy DataFrame builder to completion inside its span:
        persist + count, so the span holds the execution.  Callers
        persist the result anyway, so their later persist() is a no-op
        and their unpersist() releases this cache."""
        def call(*a, **kw):
            df = orig(*a, **kw).persist()
            df.count()
            self._owned.append(df)
            return df
        return call

    def release(self):
        for df in self._owned:
            df.unpersist()
        self._owned.clear()

    # -- install -------------------------------------------------------
    def install(self):
        from open_source_search_engine_spark.operators import budget, cuckoo
        from open_source_search_engine_spark.plans import compaction
        from open_source_search_engine_spark.plans.scheduler import (
            CrawlDriver,
        )
        from open_source_search_engine_spark.sources.snapstore import (
            SnapshotTable,
        )
        from pyspark.sql import functions as F
        from pyspark.sql.streaming import DataStreamWriter

        self._wrap(CrawlDriver, "__init__", "scheduler.init")
        self._wrap(CrawlDriver, "run_round", "scheduler.round",
                   post=self._post_round)

        def post_select(rec, _out, a, kw):
            # the input was persisted by budget_select, so this
            # histogram reads the cache; it runs after the span closed
            cand, bud = a[0], (a[1] if len(a) > 1 else kw["budget"])
            col = kw.get("priority_col", "priority")
            hist = self.side_job(lambda: (
                cand.groupBy(col).count().orderBy(F.desc(col)).collect()))
            total = sum(r["count"] for r in hist)
            cum, boundary = 0, 0
            for r in hist:
                if cum + r["count"] >= bud:
                    boundary = r["count"]
                    break
                cum += r["count"]
            rec["attrs"].update(due=total, boundary_rows=boundary,
                                budget=bud)

        self._wrap(budget, "budget_select", "budget.select",
                   post=post_select)
        self._wrap(budget, "stamp_global_seq", "budget.seq")

        def post_write(rec, snap, a, _kw):
            table = a[0]
            dirs = (table.manifest()["snapshots"].get(str(snap), {})
                    .get("data_dirs", []))
            if dirs:
                b, f = procfs.dir_usage(os.path.join(table.path, dirs[-1]))
                rec["attrs"].update(bytes=b, files=f,
                                    table=os.path.basename(table.path))

        def post_read(rec, _out, a, kw):
            table = a[0]
            m = table.manifest()
            snap = a[2] if len(a) > 2 else kw.get("snapshot")
            info = m["snapshots"].get(str(snap or m["current"]), {})
            rec["attrs"].update(dirs=len(info.get("data_dirs", [])),
                                table=os.path.basename(table.path))

        self._wrap(SnapshotTable, "append", "snapstore.append",
                   post=post_write)
        self._wrap(SnapshotTable, "overwrite", "snapstore.overwrite",
                   post=post_write)
        self._wrap(SnapshotTable, "read", "snapstore.read", post=post_read)
        self._wrap(compaction, "compact_frontier", "compaction")

        for fn, name in (("build_cuckoo", "cuckoo.build"),
                         ("cuckoo_insert", "cuckoo.insert"),
                         ("cuckoo_delete", "cuckoo.delete")):
            self._wrap(cuckoo, fn, name, around=self._materialize)

        def probe(orig):
            def call(*a, **kw):
                routed = orig(*a, **kw)
                self._pending_fallbacks = self.side_job(
                    lambda: routed.filter(F.col("maybe_seen")).count())
                return routed
            return call

        def post_probe(rec, _out, _a, _kw):
            rec["attrs"]["exact_fallbacks"] = self._pending_fallbacks

        self._wrap(cuckoo, "cuckoo_maybe_seen", "cuckoo.probe",
                   around=probe, post=post_probe)

        def post_start(_rec, q, _a, _kw):
            self.queries.append(q)

        self._wrap(DataStreamWriter, "start", "ingest.query_start",
                   post=post_start)

    def _post_round(self, rec, metrics, a, kw):
        rnd = a[1] if len(a) > 1 else kw["rnd"]
        rec["attrs"].update(round=rnd, scheduled=metrics["scheduled"])
        self.release()

    def uninstall(self):
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def write(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ----------------------------------------------------------------------
_NUM = re.compile(r"([-+]?[0-9][0-9,]*\.?[0-9]*)\s*([a-zA-Z]*)")
_SCALE = {"": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}


def sql_metric_value(text: str) -> float:
    """Parse a Spark UI SQL metric string: '1,234', '3.4 s', or the
    'total (min, med, max ...)\\n12.3 s (...)' summary form."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


class SparkProbe:
    """Per-step job/stage/task counts from the status tracker, and stage
    and SQL metrics from the REST API of the (enabled) Spark UI."""

    PY_TIME = "time to run Python workers"

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                     f"{self.sc.applicationId}")
        self._stage0 = self._sql0 = -1

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def _stages(self) -> list[dict]:
        return self._get("stages?details=false")

    def _sql(self) -> list[dict]:
        return self._get("sql?details=true&planDescription=false"
                         "&offset=0&length=100000")

    def mark(self):
        self._stage0 = max([s["stageId"] for s in self._stages()] + [-1])
        self._sql0 = max([q["id"] for q in self._sql()] + [-1])

    def _settle(self, groups: list[str]):
        """Wait for the listener bus to record every job of the step."""
        st = self.sc.statusTracker()
        deadline = time.time() + 5
        while time.time() < deadline:
            ids = [j for g in groups for j in st.getJobIdsForGroup(g)]
            infos = [st.getJobInfo(j) for j in ids]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                return
            time.sleep(0.05)

    def collect(self, groups: list[str], wall_s: float) -> dict:
        self._settle(groups)
        st = self.sc.statusTracker()
        jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
        stage_ids = []
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.extend(info.stageIds)
        tasks = 0
        for sid in stage_ids:
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
        trace_stages = set()
        for j in st.getJobIdsForGroup(TRACE_GROUP):
            info = st.getJobInfo(j)
            if info is not None:
                trace_stages.update(info.stageIds)

        stages = [s for s in self._stages()
                  if s["stageId"] > self._stage0
                  and s["stageId"] not in trace_stages
                  and s.get("status") == "COMPLETE"]
        run_ms = sum(s.get("executorRunTime", 0) for s in stages)
        skew = 0.0
        if stages:
            def dur(s):
                return s.get("executorRunTime", 0)
            top = max(stages, key=dur)
            try:
                q = self._get(f"stages/{top['stageId']}/{top['attemptId']}"
                              "/taskSummary?quantiles=0.5,1.0")
                med, mx = q["executorRunTime"]
                skew = mx / med if med > 0 else 1.0
            except (OSError, KeyError, ValueError):
                skew = 0.0
        # a cached relation repeats its plan's nodes, with the same
        # metric values, in every execution that reads it: count each
        # python node once, keyed by its timing string (which names the
        # stage and task of its maximum)
        py_nodes = {}
        for ex in self._sql():
            if ex["id"] <= self._sql0:
                continue
            for node in ex.get("nodes", []):
                ms = {m["name"]: m["value"] for m in node.get("metrics", [])}
                if self.PY_TIME in ms:
                    py_nodes[(node["nodeName"], ms[self.PY_TIME])] = ms
        py_s = sum(sql_metric_value(ms[self.PY_TIME])
                   for ms in py_nodes.values())
        py_rows = sum(sql_metric_value(ms.get("number of output rows", "0"))
                      for ms in py_nodes.values())
        return {
            "jobs": len(jobs), "stages": len(stage_ids), "tasks": tasks,
            "shuffle_bytes": sum(s.get("shuffleWriteBytes", 0)
                                 for s in stages),
            "spill_bytes": sum(s.get("diskBytesSpilled", 0)
                               for s in stages),
            "task_skew": skew,
            "busy_ratio": (run_ms / 1e3) / (wall_s * self.cores)
            if wall_s > 0 else 0.0,
            "python_rows": py_rows, "python_s": py_s,
        }


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, steps: list[dict]) -> dict[str, float]:
    """Per-layer numbers over the measured steps: span self times and
    counts per step, Spark counters per step."""
    n = max(1, len(steps))
    selfs = self_times(tracer.spans)
    step_spans = [s for s in tracer.spans if s["phase"] == "step"]

    def total(name, key=None):
        ss = [s for s in step_spans if s["name"] == name]
        if key is None:
            return sum(selfs[s["id"]] for s in ss) / n
        return sum(s["attrs"].get(key, 0) for s in ss) / n

    def count(name):
        return sum(1 for s in step_spans if s["name"] == name) / n

    inits = [selfs[s["id"]] for s in tracer.spans
             if s["name"] == "scheduler.init" and s["phase"] == "setup"]
    rounds = [s for s in step_spans if s["name"] == "scheduler.round"]
    selects = [s for s in step_spans if s["name"] == "budget.select"]
    due = sum(s["attrs"].get("due", 0) for s in selects)
    sched = sum(s["attrs"].get("scheduled", 0) for s in rounds)
    reads = [s["attrs"].get("dirs", 0) for s in step_spans
             if s["name"] == "snapstore.read"]
    comp_ids = {s["id"] for s in step_spans if s["name"] == "compaction"}
    rewritten = sum(s["attrs"].get("bytes", 0) for s in step_spans
                    if s["name"] == "snapstore.overwrite"
                    and s["parent"] in comp_ids) / n
    writes = [s for s in step_spans
              if s["name"] in ("snapstore.append", "snapstore.overwrite")]
    spark = [st["spark"] for st in steps if "spark" in st]
    progress = [p for st in steps for p in st.get("progress", [])]

    def sp(key):
        return _mean([s[key] for s in spark])

    def prog(key):
        vals = [p["durationMs"].get(key, 0) / 1e3 for p in progress
                if p.get("numInputRows", 0) > 0]
        return statistics.median(vals) if vals else 0.0

    return {
        "scheduler.init_s": statistics.median(inits) if inits else 0.0,
        "scheduler.round_self_s": total("scheduler.round"),
        "scheduler.spark_jobs_per_round": sp("jobs"),
        "scheduler.spark_stages_per_round": sp("stages"),
        "scheduler.spark_tasks_per_round": sp("tasks"),
        "scheduler.scheduled_ratio": sched / due if due else 0.0,
        "budget.select_s": total("budget.select"),
        "budget.seq_s": total("budget.seq"),
        "budget.boundary_rows": total("budget.select", "boundary_rows"),
        "snapstore.append_s": total("snapstore.append"),
        "snapstore.overwrite_s": total("snapstore.overwrite"),
        "snapstore.commits": len(writes) / n,
        "snapstore.bytes_written": sum(s["attrs"].get("bytes", 0)
                                       for s in writes) / n,
        "snapstore.files_written": sum(s["attrs"].get("files", 0)
                                       for s in writes) / n,
        "snapstore.read_dirs": _mean(reads),
        "compaction.s": total("compaction"),
        "compaction.bytes_rewritten": rewritten,
        "cuckoo.build_s": total("cuckoo.build"),
        "cuckoo.insert_s": total("cuckoo.insert"),
        "cuckoo.rebuilds": count("cuckoo.build"),
        "cuckoo.exact_fallbacks": total("cuckoo.probe", "exact_fallbacks"),
        "udfs.python_rows": sp("python_rows"),
        "udfs.python_s": sp("python_s"),
        "ingest.add_batch_s": prog("addBatch"),
        "ingest.planning_s": prog("queryPlanning"),
        "ingest.rows_per_batch": _mean([p.get("numInputRows", 0)
                                        for p in progress
                                        if p.get("numInputRows", 0) > 0]),
        "spark.shuffle_bytes": sp("shuffle_bytes"),
        "spark.spill_bytes": sp("spill_bytes"),
        "spark.task_skew": sp("task_skew"),
        "spark.executor_busy_ratio": sp("busy_ratio"),
    }
