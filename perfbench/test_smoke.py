"""Smoke test of the benchmark at a tiny input size: every workload runs
once untraced and once traced, and each run must print every metric that
BENCHMARK.json names. Run from the checkout root:

  python3 -m pytest perfbench/test_smoke.py -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.02"

sys.path.insert(0, ROOT)
from perfbench.workloads import WORKLOADS  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_emits_every_metric(workload, trace):
    bench = _bench()
    key = "per_layer" if trace else "end_to_end"
    proc = _run(ROOT, "--workload", workload, "--seed", "3",
                "--seconds", "1", "--trace", str(trace), "--scale", SCALE)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in bench[key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float))
               for v in result["metrics"].values())


@pytest.mark.slow
def test_repeated_or_missing_row_fails_its_document():
    from pyspark.sql import SparkSession

    from perfbench.workloads import SPAN_FIELDS, _doc_match_frac

    spark = SparkSession.builder.master("local[1]").getOrCreate()
    try:
        want = spark.createDataFrame(
            [("a", 0, "text", "x", None), ("a", 1, "text", "y", None),
             ("b", 0, "image", None, "m")],
            "doc_id string, offset int, kind string, text string, "
            "media_ref string")
        assert _doc_match_frac(want, want, SPAN_FIELDS, 2) == 1.0
        repeated = want.union(want.where("doc_id = 'a' AND offset = 1"))
        assert _doc_match_frac(repeated, want, SPAN_FIELDS, 2) == 0.5
        missing = want.where("NOT (doc_id = 'b')")
        assert _doc_match_frac(missing, want, SPAN_FIELDS, 2) == 0.5
    finally:
        spark.stop()


def test_benchmark_json_matches_workloads():
    bench = _bench()
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_fails_without_the_library(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark must fail
    fast and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "out"))
    proc = _run(str(tmp_path), "--workload", "text_extract", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
