"""Smoke tests for the benchmark itself (not part of the repository's
tier-1 suite).  Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The workload runs use the ``tiny`` sizes; each starts its own Spark JVM.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import run as bench  # noqa: E402


def _run(*args, cwd=ROOT, timeout=400):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", bench.ALL)
def test_tiny_workload_passes_its_checks(workload):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "60",
             "--trace", "0", "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == set(bench.E2E_UNITS)
    for name, m in out["metrics"].items():
        assert m["unit"] == bench.E2E_UNITS[name]
        assert m["value"] > 0, name


def test_tiny_seed_ingest_checks_every_drain_before_compaction():
    p = _run("--workload", "seed_ingest", "--seed", "3", "--seconds", "60",
             "--trace", "0", "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    # both drains were checked, the second one before the compaction
    # that follows it folds the table to one row per uh48
    for i in range(2):
        assert f"check drain{i}.no_double_append: ok" in p.stderr


def test_tiny_traced_run_reports_every_layer():
    p = _run("--workload", "seed_ingest", "--seed", "3", "--seconds", "60",
             "--trace", "1", "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    report = json.loads(lines[-2])["report"]
    # the untraced baseline ran in this invocation
    assert isinstance(report["trace_overhead_s"]["value"], float)
    out = json.loads(lines[-1])
    assert out["correct"]
    assert set(out["metrics"]) == set(bench.LAYER_UNITS)
    m = out["metrics"]
    # the ingest workload exercises these layers on every run
    for name in ("ingest.add_batch_s", "cuckoo.insert_s",
                 "snapstore.append_s", "udfs.python_rows",
                 "scheduler.spark_jobs_per_round"):
        assert m[name]["value"] > 0, name


def test_without_the_program_exits_nonzero_and_prints_nothing(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("--workload", "mature_round", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path), timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


# -- the checks catch corrupted outputs -----------------------------------
@pytest.fixture(scope="module")
def oracle_crawl(tmp_path_factory):
    """A real (oracle) crawl of a small corpus: its schedule and seen set
    stand in for correct Spark output."""
    import pandas as pd

    from open_source_search_engine_spark.oracle.crawler import (
        CrawlConfig, OracleCrawler,
    )
    from open_source_search_engine_spark.sources import synthweb
    d = str(tmp_path_factory.mktemp("corpus"))
    paths = synthweb.write_corpus(d, n_hosts=8, mean_pages=6, n_seeds=4)
    st = OracleCrawler(pd.read_parquet(paths["pages"]),
                       pd.read_parquet(paths["hostmeta"]),
                       pd.read_parquet(paths["seeds"]),
                       CrawlConfig(budget=50)).run(3)
    rows = [tuple(s[c] for c in checks.SCHEDULE_COLS) for s in st.schedule]
    return rows, st


def test_schedule_parity_catches_a_swapped_row(oracle_crawl):
    rows, st = oracle_crawl
    assert checks.schedule_parity(rows, st.schedule)[0]
    bad = list(rows)
    bad[1], bad[2] = bad[2], bad[1]
    assert not checks.schedule_parity(bad, st.schedule)[0]
    assert not checks.schedule_parity(rows[:-1], st.schedule)[0]


def test_url_seen_parity_catches_a_lost_url(oracle_crawl):
    _rows, st = oracle_crawl
    seen = set(st.url_seen)
    assert checks.url_seen_parity(seen, seen)[0]
    assert not checks.url_seen_parity(seen - {next(iter(seen))}, seen)[0]


def test_mature_invariants_catch_corruption():
    rows = [(i, 1000 + i, 50 - i // 3, 10 * i) for i in range(9)]
    assert checks.mature_invariants(rows, 9, 9)[0]
    assert not checks.mature_invariants(rows[:-1], 9, 9)[0]
    dup_seq = rows[:-1] + [(0, 2000, 0, 99)]
    assert not checks.mature_invariants(dup_seq, 9, 9)[0]
    misordered = [(0, 1001, 50, 10), (1, 1000, 50, 10)] + rows[2:]
    assert not checks.mature_invariants(misordered, 9, 9)[0]
    assert not checks.mature_invariants(rows, 9, 8)[0]


def test_mature_pin_catches_a_changed_checksum():
    pinned = [[5000, 123], [5000, -7]]
    assert checks.mature_pin([[5000, 123]], pinned)[0]
    assert not checks.mature_pin([[5000, 123], [5000, 8]], pinned)[0]


def test_drain_appends_catches_double_append():
    # 100 rows before, 30 new urls fed
    assert checks.drain_appends(100, 130, 130, 30)[0]
    # a re-fed url appended again: one uh48 twice
    assert not checks.drain_appends(100, 131, 130, 30)[0]
    # a new url appended twice
    assert not checks.drain_appends(100, 131, 130, 31)[0]
    # a new url lost
    assert not checks.drain_appends(100, 129, 129, 30)[0]


def test_ingest_accounting_catches_loss_and_strays():
    seeded = {"http://a.com/1", "http://a.com/2"}
    new = {"http://b.com/x", "http://b.com/y"}
    rows = [(u, i) for i, u in enumerate(sorted(seeded | new))]
    assert checks.ingest_accounting(rows, seeded, new)[0]
    assert not checks.ingest_accounting(rows[:-1], seeded, new)[0]
    assert not checks.ingest_accounting(rows + [("http://c.com/z", 9)],
                                        seeded, new)[0]
