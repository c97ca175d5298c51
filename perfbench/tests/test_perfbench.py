"""The benchmark's own tests: tiny smoke runs of every workload, the oracle
self-test (a corrupted output must fail the run), and the pure helpers.

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark JVM, so the module takes several minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run as bench  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

CRAWL_OUTPUTS = ("log", "url_seen", "docs", "metrics")


def _run(*args: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _error_ratio(out: list[str]) -> float:
    return next(float(line.split()[1]) for line in out
                if line.strip().startswith("error_ratio"))


@pytest.mark.parametrize("workload,trace", [
    ("crawl_narrow", "0"),
    ("crawl_wide", "0"),
    ("crawl_wide", "1"),
    ("frontier_bulk", "0"),
    ("frontier_bulk", "1"),
])
def test_tiny_run_is_correct_and_complete(workload, trace):
    rc, out = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                   "--trace", trace, "--size", "tiny")
    assert rc == 0, out
    result = json.loads(out[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    names = bench.PER_LAYER if trace == "1" else bench.END_TO_END
    assert set(result["metrics"]) == set(names)
    if trace == "0":
        assert all(m["value"] > 0 for m in result["metrics"].values())
        assert _error_ratio(out) == 0
    else:
        assert result["metrics"]["spark.jobs_per_batch"]["value"] > 0


@pytest.mark.parametrize("workload", ["crawl_narrow", "frontier_bulk"])
def test_corrupted_output_fails_the_run(workload):
    rc, out = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                   "--size", "tiny", "--corrupt")
    assert rc == 1, out
    result = json.loads(out[-1])
    assert not result["correct"] and result["failed"] >= 1
    assert _error_ratio(out) > 0


def test_fails_without_the_program(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    rc, out = _run("--workload", "crawl_wide", "--seed", "1",
                   "--seconds", "1", cwd=tmp_path)
    assert rc != 0
    assert not any(line.startswith("{") for line in out)


def test_mismatch_counts_every_damaged_row():
    from perfbench.crawl import corrupt, mismatched_rows

    expected = {
        "log": [(0, "http://a/", "GET", "", 0), (1, "http://a/x", "GET", "", 0)],
        "url_seen": ["http://a/x"],
        "docs": [("d1",)],
        "metrics": [(0, "a", 1, 0, 1, 10, 0)],
    }
    observed = {k: list(v) for k, v in expected.items()}
    assert sum(mismatched_rows(expected, observed).values()) == 0
    corrupt(observed)
    observed["url_seen"] = []
    bad = mismatched_rows(expected, observed)
    assert bad == {"log": 1, "url_seen": 1, "docs": 0, "metrics": 0}
    assert set(bad) == set(CRAWL_OUTPUTS)


def test_frontier_references_agree():
    from perfbench import frontier as fr

    table = fr.make_lineitem(5, 1_000)
    keys = list(zip(table.column("l_orderkey").to_pylist(),
                    table.column("l_linenumber").to_pylist()))
    assert len(set(keys)) == len(keys)  # unique lines, as in TPC-H
    total = fr.reference_total(table, 10, 1.0)
    sample = fr.reference_sample(table, 10, 1.0, list(range(fr.N_HOSTS)))
    assert total == sum(len(v) for v in sample.values())
    ranks = Counter(r for v in sample.values() for _, r in v)
    assert ranks[1] == len(sample)
    assert fr.canonicalize_py("HTTP://Site1.Example.COM:80?q#f") == \
        "http://site1.example.com/?q"
    assert fr.reference_total(pa.table({
        "l_orderkey": [5, 5, 6], "l_suppkey": [1, 401, 1],
        "l_linenumber": pa.array([1, 1, 1], pa.int32()),
    }), 1, 60.0) == 1  # 5_1 is one URL (same host), 6_1 is already seen


def test_self_time_subtracts_overlapping_children():
    t = Tracer()
    t.spans = [
        {"id": 0, "name": "b", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "w", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "w", "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "c", "parent": 0, "start": 8.0, "end": 12.0},
    ]
    assert t.self_time(t.spans[0]) == pytest.approx(10 - 4 - 2)
    assert t.total("w", under={"b"}) == pytest.approx(5.0)
