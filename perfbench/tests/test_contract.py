"""BENCHMARK.json against the benchmark's limits and workloads."""

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench.layers import HEADLINERS, NAMED
from perfbench.trace import Tracer

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def doc():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def test_keys_and_limits(doc):
    assert set(doc) == {"command", "paths", "run_seconds", "workloads",
                        "end_to_end", "per_layer"}
    assert doc["command"] == ["python3", "perfbench/run.py"]
    assert doc["paths"] == ["perfbench"]
    assert isinstance(doc["run_seconds"], int)
    assert 1 <= doc["run_seconds"] <= 60
    assert 2 <= len(doc["workloads"]) <= 8
    names = []
    for w in doc["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"]
        assert len(w["why"]) <= 200
        names.append(w["name"])
    for m in doc["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        names.append(m["name"])
    for m in doc["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    assert len(json.dumps(doc)) <= 64 * 1024
    setup = [m for m in doc["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in doc["end_to_end"])


def test_every_workload_is_runnable(doc):
    assert {w["name"] for w in doc["workloads"]} == set(NAMED)


def test_headliners_are_bench_queries():
    import bench

    assert tuple(n for n, _ in bench.BENCH_QUERIES) == HEADLINERS


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the run
    exits non-zero at once and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert not (tmp_path / ".perfbench_tmp").exists()


def test_tracer_records_nesting_without_spark():
    tr = Tracer(spark=None, enabled=True)
    trace = tr.new_trace()
    with tr.span("outer", trace=trace) as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.id and inner.trace == outer.trace == trace
    assert outer.end >= inner.end >= inner.start >= outer.start
    assert [s.name for s in tr.by_name("inner")] == ["inner"]
    assert tr.total("outer") >= tr.total("inner")


def test_disabled_tracer_records_nothing():
    tr = Tracer(spark=None, enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []
