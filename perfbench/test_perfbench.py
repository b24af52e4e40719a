"""Self-test of the benchmark at smoke size (200 documents; curation
tables of 50 documents, the sf0.001 size).

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload untraced and traced, checks that each prints exactly
the metrics ``BENCHMARK.json`` names with their units, that a dropped
document fails the check, and that the command refuses to run without
the program under test.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from perfbench import run as bench  # noqa: E402
from perfbench import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def small(name: str):
    if name == "curate":
        return workloads.Curate(n_docs=50)
    return workloads.Extraction(name, text_only=name == "text_only",
                                fallback=name == "fallback", n_docs=200)


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    yield str(tmp_path_factory.mktemp("perfbench_cache"))
    bench.shutdown_jvm()


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


LISTED = [w["name"] for w in SPEC["workloads"]]


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize(
    "name", LISTED + sorted(set(workloads.WORKLOADS) - set(LISTED)))
def test_workload_prints_every_metric(cache, name, trace):
    detail, final = bench.run(small(name), seed=3, seconds=1, trace=trace,
                              cache=cache, t_start=time.perf_counter())
    assert final["correct"], detail
    assert final["failed"] == 0 and final["attempted"] >= 2
    assert detail["end_to_end"]["equality_pct"] == 100.0
    want = _units("per_layer" if trace else "end_to_end")
    got = {k: m["unit"] for k, m in final["metrics"].items()}
    assert got == want
    assert all(isinstance(m["value"], float) for m in final["metrics"].values())


class _DropOne(workloads.Extraction):
    def job(self, loaded):
        from pyspark.sql import functions as F

        first = loaded["documents_interleaved"].first()["doc_id"]
        return super().job(loaded).where(F.col("doc_id") != first)


def test_dropped_document_fails_the_check(cache):
    detail, final = bench.run(_DropOne("flagship", n_docs=200),
                              seed=3, seconds=1, trace=False, cache=cache,
                              t_start=time.perf_counter())
    assert detail["end_to_end"]["equality_pct"] < 100.0
    assert detail["failed_pct"] > 0
    assert final["failed"] > 0 and not final["correct"]


def test_result_digest_canonicalises_nested_cells():
    cols = ["anchors", "doc_id", "props"]
    a = [(["b", "a"], 1, {"y": 2, "x": [3, 1]}), (None, 2, {})]
    b = [(2, None, {}), (1, ["a", "b"], {"x": [1, 3], "y": 2})]
    assert workloads.result_digest(cols, a) == workloads.result_digest(
        ["doc_id", "anchors", "props"], b)
    assert workloads.result_digest(cols, a) != workloads.result_digest(
        cols, a[:1])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = dict(os.environ, PYTHONPATH="")
    proc = subprocess.run(
        SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"],
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout == ""
