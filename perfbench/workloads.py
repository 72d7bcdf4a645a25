"""The crawl workloads.  ``run.py`` starts this file as a child process
(one workload, one seed) with its environment already isolated; it
writes one result JSON file and exits.

A run builds or loads the cached corpus, sets up once (fresh workdir,
``CrawlDriver`` init, seeding: ``setup_s``), then runs the workload's
fixed number of steps — a ``run_round``, or an add-url drain, each
followed by the due compaction — so every run does the same work
whatever the host load.  ``--seconds`` is only a safety limit: a step
that would start after it is not run and counts as failed.  Output
checks run after the timed region.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

import checks  # noqa: E402
import procfs  # noqa: E402

# Sizes are set by the benchmark's time budget (README): on a 4-core host
# one crawl round costs 25-40 s of mostly fixed per-job work, so a run is
# one JVM start, one set-up and 1-3 steps.  Each step count ends the run
# on a compaction where the workload compacts.
SCALES = {
    "full": {
        "mature_round": {"rows": 25_000, "budget": 2_500, "steps": 1},
        "seed_ingest": {"hosts": 200, "known": 2_000, "files": 16,
                        "urls_per_file": 250, "compact_every": 2,
                        "steps": 2},
        "discovery_crawl": {"hosts": 400, "mean_pages": 20, "seeds": 50,
                            "budget": 2_000, "compact_every": 3,
                            "steps": 3},
    },
    "tiny": {
        "mature_round": {"rows": 2_000, "budget": 200, "steps": 1},
        "seed_ingest": {"hosts": 8, "known": 200, "files": 2,
                        "urls_per_file": 20, "compact_every": 2,
                        "steps": 2},
        "discovery_crawl": {"hosts": 8, "mean_pages": 6, "seeds": 4,
                            "budget": 50, "compact_every": 2,
                            "steps": 2},
    },
}

T0_MS = 1_600_000_000_000


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_done"))


def _mark_done(path: str):
    with open(os.path.join(path, "_done"), "w") as f:
        f.write("ok\n")


class Workload:
    """One workload over one seed.  ``corpus()`` is cached under
    ``work/cache`` by (workload, seed, size) unless a workload says
    otherwise; everything else lives in the per-run directory."""

    name = ""
    corpus_keys: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, scale: str, work: str, run: str):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.p = SCALES[scale][self.name]
        self.run = run
        size = "-".join(f"{k}{self.p[k]}" for k in self.corpus_keys)
        self.cache = os.path.join(work, "cache",
                                  f"{self.name}-s{seed}-{size}")
        self.drv = None
        self.wd = None
        self.observed_pin = None

    def frontier_rows(self) -> int:
        return self.drv.t_requests.read(self.spark).count()

    def step_prepare(self, i: int):
        """Untimed input generation for step ``i``."""

    def groups(self, i: int, tracer) -> list[str]:
        return [f"crawl-round-{i}"]


class MatureRound(Workload):
    """Consecutive rounds over a mature zipf frontier, ~30% replied,
    stored as salted bucketed snapshots (as ``bench.run_product_round``
    seeds it); empty pages table; budget below the due count."""

    name = "mature_round"
    corpus_keys = ("rows",)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # regenerated every run, not cached: the frontier is made by
        # Spark jobs, and without them before set-up the JVM is colder
        # (measured: setup_s +95%, round +23% on a cached corpus)
        self.cache = os.path.join(self.run, "corpus")

    def corpus(self) -> dict:
        from open_source_search_engine_spark.sources.frontier_gen import (
            gen_frontier, gen_replies_for,
        )
        from pyspark.sql import functions as F
        paths = {k: os.path.join(self.cache, f"{k}.parquet")
                 for k in ("requests", "replies", "hostmeta", "pages")}
        if _done(self.cache):
            return paths
        shutil.rmtree(self.cache, ignore_errors=True)
        os.makedirs(self.cache)
        spark = self.spark
        raw = gen_frontier(spark, self.p["rows"], seed=self.seed)
        # complete REQUEST_SCHEMA JVM-side, as bench.run_product_round
        # does, so the read-side migration adds no Python UDF
        req = (raw.drop("flags")
               .withColumn("domain",
                           F.regexp_replace("host", r"^www\.", ""))
               .withColumn("is_rss", F.lit(False))
               .withColumn("is_new_outlink", F.lit(False))
               .withColumn("was_parent_indexed", F.lit(True))
               .withColumn("is_docid_based", F.lit(False))
               .withColumn("has_authority_inlink", F.lit(False))
               .withColumn("in_google", F.lit(False))
               .withColumn("parent_is_pingserver", F.lit(False)))
        req.write.parquet(paths["requests"])
        req = spark.read.parquet(paths["requests"])
        gen_replies_for(req, seed=self.seed).write.parquet(paths["replies"])
        (req.select("host", "first_ip").distinct()
         .withColumn("robots_txt", F.lit(""))
         .withColumn("robots_status", F.lit(200))
         .write.parquet(paths["hostmeta"]))
        spark.createDataFrame(
            [], "url string, html binary, lang string"
        ).write.parquet(paths["pages"])
        _mark_done(self.cache)
        return paths

    def setup(self, wd: str):
        from open_source_search_engine_spark.oracle.crawler import (
            CrawlConfig,
        )
        from open_source_search_engine_spark.plans.scheduler import (
            CrawlDriver,
        )
        from open_source_search_engine_spark.sources.snapstore import (
            with_salt,
        )
        c = self.corpus()
        self.wd = wd
        self.drv = CrawlDriver(self.spark, wd, c["pages"], c["hostmeta"],
                               CrawlConfig(budget=self.p["budget"]))
        read = self.spark.read.parquet
        self.drv.t_requests.overwrite(with_salt(read(c["requests"])),
                                      {"source": "perfbench"})
        self.drv.t_replies.overwrite(with_salt(read(c["replies"])),
                                     {"source": "perfbench"})
        self.spark.catalog.clearCache()

    def step(self, i: int) -> dict:
        self.drv.run_round(i)
        return {"work": self.p["rows"]}

    def checks(self, n_steps: int) -> list[tuple[str, bool, str]]:
        from pyspark.sql import functions as F
        front = self.spark.read.parquet(
            self.corpus()["requests"]).select("uh48").distinct()
        sched = (self.drv.schedule_df()
                 .join(front.withColumn("known", F.lit(True)), "uh48",
                       "left")
                 .select("round", "seq", "uh48", "priority",
                         "fetch_time_ms", "known",
                         F.xxhash64("uh48", "fetch_time_ms", "seq")
                         .alias("h"))
                 .collect())
        out, got = [], []
        for r in range(n_steps):
            rows = [x for x in sched if x["round"] == r]
            chk = 0
            for x in rows:
                chk ^= x["h"]
            got.append([len(rows), chk])
            ok, why = checks.mature_invariants(
                [(x["seq"], x["uh48"], x["priority"], x["fetch_time_ms"])
                 for x in rows], self.p["budget"],
                sum(1 for x in rows if x["known"]))
            out.append((f"round{r}.invariants", ok, why))
        with open(os.path.join(HERE, "pins.json")) as f:
            pins = json.load(f).get(self.scale, {})
        ok, why = checks.mature_pin(got, pins.get(str(self.seed)))
        out.append(("schedule_pin", ok, why))
        self.observed_pin = got
        return out


class DiscoveryCrawl(Workload):
    """A crawl of a ``synthweb`` corpus from its seeds, with the default
    cuckoo seen-filter and periodic compaction; checked for schedule and
    url-seen parity against the oracle crawler."""

    name = "discovery_crawl"
    corpus_keys = ("hosts", "mean_pages", "seeds")

    def corpus(self) -> dict:
        from open_source_search_engine_spark.sources import synthweb
        paths = {k: os.path.join(self.cache, f"{k}.parquet")
                 for k in ("pages", "hostmeta", "seeds")}
        if _done(self.cache):
            return paths
        shutil.rmtree(self.cache, ignore_errors=True)
        synthweb.write_corpus(self.cache, n_hosts=self.p["hosts"],
                              mean_pages=self.p["mean_pages"],
                              n_seeds=self.p["seeds"], seed=self.seed)
        _mark_done(self.cache)
        return paths

    def cfg(self):
        from open_source_search_engine_spark.oracle.crawler import (
            CrawlConfig,
        )
        return CrawlConfig(budget=self.p["budget"])

    def setup(self, wd: str):
        from open_source_search_engine_spark.plans.scheduler import (
            CrawlDriver,
        )
        c = self.corpus()
        self.wd = wd
        self.drv = CrawlDriver(self.spark, wd, c["pages"], c["hostmeta"],
                               self.cfg())
        self.drv.seed(c["seeds"])

    def step(self, i: int) -> dict:
        from open_source_search_engine_spark.plans import compaction
        t0 = time.perf_counter()
        m = self.drv.run_round(i)
        t1 = time.perf_counter()
        if (i + 1) % self.p["compact_every"] == 0:
            compaction.compact_frontier(self.spark, self.wd)
        return {"work": m["scheduled"], "round_s": t1 - t0}

    def checks(self, n_steps: int) -> list[tuple[str, bool, str]]:
        import pandas as pd

        from open_source_search_engine_spark.oracle.crawler import (
            OracleCrawler,
        )
        c = self.corpus()
        oracle = OracleCrawler(pd.read_parquet(c["pages"]),
                               pd.read_parquet(c["hostmeta"]),
                               pd.read_parquet(c["seeds"]),
                               self.cfg()).run(n_steps)
        got = [tuple(r) for r in self.drv.schedule_df()
               .select(*checks.SCHEDULE_COLS)
               .orderBy("round", "seq").collect()]
        stored = [r.uh48 for r in self.drv.t_requests.read(self.spark)
                  .select("uh48").collect()]
        return [
            ("schedule_parity",
             *checks.schedule_parity(got, oracle.schedule)),
            ("url_seen_parity",
             *checks.url_seen_parity(set(stored), set(oracle.url_seen))),
        ]


class SeedIngest(Workload):
    """Closed loop into a frontier seeded by ``CrawlDriver``: write a
    backlog of add-url JSON files (half the lines re-feed known urls,
    half are new), drain it with ``run_seed_ingest(once=True)``, and
    only then write the next one.  Every ``compact_every``-th drain is
    followed by ``compact_frontier``, which folds the appended deltas."""

    name = "seed_ingest"
    corpus_keys = ("hosts", "known")

    def corpus(self) -> dict:
        import numpy as np
        import pandas as pd

        from open_source_search_engine_spark.sources import synthweb
        paths = {k: os.path.join(self.cache, f"{k}.parquet")
                 for k in ("hostmeta", "pages", "seeds")}
        if _done(self.cache):
            return paths
        shutil.rmtree(self.cache, ignore_errors=True)
        os.makedirs(self.cache)
        hm = synthweb.make_hostmeta(self.p["hosts"], seed=self.seed)
        hm.to_parquet(paths["hostmeta"], index=False)
        pd.DataFrame({"url": pd.Series([], dtype="str"),
                      "html": pd.Series([], dtype="bytes"),
                      "lang": pd.Series([], dtype="str")}
                     ).to_parquet(paths["pages"], index=False)
        hosts = hm["host"].tolist()
        rng = np.random.default_rng([self.seed, 1])
        pick = rng.integers(0, len(hosts), self.p["known"])
        pd.DataFrame({"url": [f"http://{hosts[h]}/known/{j}.html"
                              for j, h in enumerate(pick)],
                      "added_time_ms": T0_MS}
                     ).to_parquet(paths["seeds"], index=False)
        _mark_done(self.cache)
        return paths

    def setup(self, wd: str):
        import pandas as pd

        from open_source_search_engine_spark.kernel import urlnorm
        from open_source_search_engine_spark.oracle.crawler import (
            CrawlConfig,
        )
        from open_source_search_engine_spark.plans.scheduler import (
            CrawlDriver,
        )
        c = self.corpus()
        self.wd = wd
        self.drv = CrawlDriver(self.spark, wd, c["pages"], c["hostmeta"],
                               CrawlConfig())
        self.drv.seed(c["seeds"])
        self.hosts = pd.read_parquet(c["hostmeta"])["host"].tolist()
        self.seeded = {urlnorm.canonicalize(u) for u in
                       pd.read_parquet(c["seeds"])["url"]}
        self.pool = sorted(self.seeded)   # urls a re-feed may repeat
        self.expected_new: set = set()
        self.drains: list[tuple[int, int, int]] = []
        self.feed = os.path.join(self.run, "addurl")
        self.ckpt = os.path.join(self.run, "checkpoint")
        for d in (self.feed, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.feed)

    def step_prepare(self, i: int):
        """Write backlog ``i``, deterministic in (seed, i).  Re-fed urls
        also come as raw variants (upper-case host, a fragment) that
        canonicalize to the stored url."""
        import numpy as np

        from open_source_search_engine_spark.kernel import urlnorm
        rng = np.random.default_rng([self.seed, 2, i])
        self._new = []
        self._snap_before = self.drv.t_requests.current_snapshot()
        for f in range(self.p["files"]):
            lines = []
            for k in range(self.p["urls_per_file"]):
                if k % 2 == 0:
                    u = self.pool[int(rng.integers(0, len(self.pool)))]
                    if k % 4 == 0:
                        scheme, rest = u.split("://", 1)
                        host, _, path = rest.partition("/")
                        u = f"{scheme}://{host.upper()}/{path}#ref{k}"
                else:
                    h = self.hosts[int(rng.integers(0, len(self.hosts)))]
                    u = f"http://{h}/new/{i}/{f}/{k}.html"
                    self._new.append(urlnorm.canonicalize(u))
                lines.append(json.dumps({"url": u,
                                         "added_time_ms": T0_MS}) + "\n")
            tmp = os.path.join(self.run, f".b{i:05d}-{f:03d}.json")
            with open(tmp, "w") as fh:
                fh.writelines(lines)
            # atomic publish: the file source must never see half a file
            os.replace(tmp, os.path.join(self.feed,
                                         f"b{i:05d}-{f:03d}.json"))

    def step(self, i: int) -> dict:
        from open_source_search_engine_spark.plans import compaction
        from open_source_search_engine_spark.streaming.ingest import (
            run_seed_ingest,
        )
        t0 = time.perf_counter()
        run_seed_ingest(self.spark, self.feed, self.corpus()["hostmeta"],
                        self.wd, self.ckpt, once=True)
        t1 = time.perf_counter()
        # the snapshots around the drain (manifest reads): the checks
        # time-travel to them, because the compaction below folds a
        # double append back to one row per uh48
        self.drains.append((self._snap_before,
                            self.drv.t_requests.current_snapshot(),
                            len(set(self._new))))
        if (i + 1) % self.p["compact_every"] == 0:
            compaction.compact_frontier(self.spark, self.wd)
        self.expected_new.update(self._new)
        self.pool.extend(self._new)
        return {"work": self.p["files"] * self.p["urls_per_file"],
                "drain_s": t1 - t0}

    def groups(self, i: int, tracer) -> list[str]:
        return [str(q.runId) for q in tracer.queries]

    def checks(self, n_steps: int) -> list[tuple[str, bool, str]]:
        from pyspark.sql import functions as F
        t = self.drv.t_requests

        def stats(snap):
            r = (t.read(self.spark, snapshot=snap)
                 .agg(F.count("*").alias("n"),
                      F.countDistinct("uh48").alias("d")).collect()[0])
            return r.n, r.d

        out = []
        for i, (before, after, new) in enumerate(self.drains):
            n0, _ = stats(before)
            n1, d1 = stats(after)
            out.append((f"drain{i}.no_double_append",
                        *checks.drain_appends(n0, n1, d1, new)))
        rows = [(r.url, r.uh48) for r in t.read(self.spark)
                .select("url", "uh48").collect()]
        out.append(("ingest_accounting",
                    *checks.ingest_accounting(rows, self.seeded,
                                              self.expected_new)))
        return out


WORKLOADS = {w.name: w for w in (MatureRound, SeedIngest, DiscoveryCrawl)}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl: Workload, steps: list[dict], res: dict, rows: int,
               state_bytes: int) -> tuple[dict, dict]:
    """The BENCHMARK.json end-to-end metrics (run.py adds peak RSS), in
    CPU seconds of the whole process group, and the workload's named
    report metrics, in wall seconds."""
    cpu = [s["cpu_s"] for s in steps]
    secs = [s["s"] for s in steps]
    work = sum(s["work"] for s in steps)
    e2e = {
        "setup_s": res["setup_s"],
        "step_cpu_s_p50": _median(cpu),
        "step_cpu_s_max": max(cpu, default=0.0),
        "work_per_cpu_s": work / sum(cpu) if sum(cpu) else 0.0,
        "state_bytes_per_row": state_bytes / rows if rows else 0.0,
    }
    named = {"setup_wall_s": (res["setup_wall_s"], "s"),
             "step_s_p50": (_median(secs), "s"),
             "state_bytes_per_row": (e2e["state_bytes_per_row"], "B/row")}
    if wl.name == "seed_ingest":
        drains = [s["drain_s"] for s in steps]
        named["ingest_batch_s_p50"] = (_median(drains), "s")
        named["ingest_urls_per_s"] = (work / sum(drains)
                                      if drains else 0.0, "urls/s")
    else:
        rounds = [s["round_s"] for s in steps]
        named["round_s_p50"] = (_median(rounds), "s")
        named["round_s_max"] = (max(secs, default=0.0), "s")
        unit = "rows/s" if wl.name == "mature_round" else "pages/s"
        key = ("frontier_rows_per_s" if wl.name == "mature_round"
               else "fetched_pages_per_s")
        named[key] = (work / sum(secs) if secs else 0.0, unit)
    return e2e, named


def run(args) -> dict:
    from open_source_search_engine_spark.session import get_spark

    t_start = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark_start_s = time.perf_counter() - t_start
    tracer = probe = None
    if args.trace:
        import tracing
        tracer = tracing.Tracer(spark)
        tracer.install()
        probe = tracing.SparkProbe(spark, args.cpus)
    wl = WORKLOADS[args.workload](spark, args.seed, args.scale, args.work,
                                  args.run)
    res = {"workload": args.workload, "seed": args.seed,
           "scale": args.scale, "trace": args.trace,
           "spark_start_s": spark_start_s, "checks": [], "steps": []}
    failed = 0

    t0 = time.perf_counter()
    wl.corpus()
    res["corpus_s"] = time.perf_counter() - t0
    pgrp = os.getpgrp()
    t0, c0 = time.perf_counter(), procfs.group_cpu_s(pgrp)
    wl.setup(os.path.join(args.run, "wd"))
    res["setup_wall_s"] = time.perf_counter() - t0
    res["setup_s"] = procfs.group_cpu_s(pgrp) - c0

    if tracer:
        tracer.phase = "step"
    start = time.perf_counter()
    skipped = 0
    for i in range(wl.p["steps"]):
        if time.perf_counter() - start > args.seconds:
            # the safety limit: the steps left are not run, and count
            # as failed, so a reported run always did the full work
            skipped = wl.p["steps"] - i
            print(f"perfbench: {skipped} step(s) not started within "
                  f"{args.seconds:g} s", file=sys.stderr)
            break
        wl.step_prepare(i)
        if probe:
            probe.mark()
            tracer.queries.clear()
        t0, c0 = time.perf_counter(), procfs.group_cpu_s(pgrp)
        try:
            info = wl.step(i)
        except Exception:   # a failed step is counted, not fatal
            traceback.print_exc()
            failed += 1
            res["steps"].append({"s": time.perf_counter() - t0,
                                 "failed": True})
            break
        info["s"] = time.perf_counter() - t0
        info["cpu_s"] = procfs.group_cpu_s(pgrp) - c0
        info.setdefault("round_s", info["s"])
        if probe:
            info["spark"] = probe.collect(wl.groups(i, tracer), info["s"])
            info["progress"] = [
                {"durationMs": dict(pr["durationMs"]),
                 "numInputRows": int(pr["numInputRows"])}
                for q in tracer.queries for pr in q.recentProgress]
        res["steps"].append(info)
    failed += skipped
    steps = [s for s in res["steps"] if not s.get("failed")]

    if tracer:
        tracer.phase = "check"
    if not failed:
        try:
            for name, ok, why in wl.checks(len(steps)):
                res["checks"].append({"name": name, "ok": ok,
                                      "detail": why})
        except Exception:   # a check that raises is a failed check
            traceback.print_exc()
            res["checks"].append({"name": "checks", "ok": False,
                                  "detail": "check raised"})
    failed += sum(1 for c in res["checks"] if not c["ok"])
    res["observed_pin"] = wl.observed_pin

    rows = wl.frontier_rows()
    state_bytes = procfs.dir_usage(wl.wd)[0]
    res.update({
        "correct": failed == 0,
        "attempted": (len(res["steps"]) + skipped
                      + max(1, len(res["checks"]))),
        "failed": failed,
        "frontier_rows": rows,
        "state_bytes": state_bytes,
    })
    res["e2e"], res["named"] = end_to_end(wl, steps, res, rows,
                                          state_bytes)
    if tracer:
        import tracing
        tracer.uninstall()
        res["layers"] = tracing.layer_metrics(tracer, steps)
        spans = os.path.join(args.work, "spans",
                             f"{args.workload}-s{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        tracer.write(spans)
        res["spans_file"] = os.path.relpath(spans, ROOT)
        res["n_spans"] = len(tracer.spans)
    spark.stop()
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--run", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    res = run(args)
    with open(args.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
