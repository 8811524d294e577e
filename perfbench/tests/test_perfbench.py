"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The smoke runs start a Spark session per workload at a reduced input
size and take a few minutes in all.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import queries  # noqa: E402
from perfbench.harness import tail  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.2"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_declared_metrics_match_benchmark_json():
    assert [(m.name, m.unit, m.better) for m in END_TO_END] == [
        (m["name"], m["unit"], m["better"]) for m in BENCHMARK["end_to_end"]
    ]
    assert [(m.name, m.unit, m.better) for m in PER_LAYER] == [
        (m["name"], m["unit"], m["better"]) for m in BENCHMARK["per_layer"]
    ]
    names = [m.name for m in END_TO_END + PER_LAYER]
    assert len(names) == len(set(names))
    e2e = {m.name for m in END_TO_END}
    for m in PER_LAYER:
        assert m.moves in e2e, m
        assert set(m.workloads) <= set(WORKLOADS), m


def test_benchmark_json_shape():
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(WORKLOADS)
    assert any(m["name"] == "setup_s" for m in BENCHMARK["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in BENCHMARK["end_to_end"])


def test_same_seed_same_pages_and_query_mix():
    from argo_spark.pages import gen_page

    assert [gen_page(i, 5) for i in range(20)] == [gen_page(i, 5) for i in range(20)]
    assert [gen_page(i, 5)[2] for i in range(20)] != [gen_page(i, 6)[2] for i in range(20)]

    def mix(seed):
        return list(itertools.islice(queries.blocks(random.Random(seed), 1000), 4))

    assert mix(5) == mix(5)
    assert mix(5) != mix(6)
    assert all(sorted(r.kind for r in block) == sorted(queries.KINDS) for block in mix(5))


def test_same_seed_same_golden_checksum_in_spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    from argo_spark.pages import expected_triples, synthesize_pages
    from argo_spark.session import get_spark
    from perfbench.workloads import checksum

    spark = get_spark("perfbench-test", master="local[2]")
    try:
        golden = [checksum(expected_triples(spark, 200, seed)) for seed in (5, 5, 6)]
        pages = [checksum(synthesize_pages(spark, 200, seed)) for seed in (5, 5)]
    finally:
        spark.stop()
    assert golden[0] == golden[1] != golden[2]
    assert pages[0] == pages[1]


def test_tail_has_ten_samples_beyond():
    assert tail([1.0] * 10) == (0.0, 0.0)
    values = [float(i) for i in range(1, 41)]
    value, pct = tail(values)
    assert sum(v > value for v in values) == 10
    assert pct == 75.0


def test_exits_nonzero_without_program_sources(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("query", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_smoke_run(workload):
    result = _result(_run(workload, 1))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert list(result["metrics"]) == [m.name for m in PER_LAYER]
    for m in PER_LAYER:
        assert result["metrics"][m.name]["unit"] == m.unit
    assert result["metrics"]["trace.spans"]["value"] > 0


def test_untraced_smoke_run():
    result = _result(_run("query", 0))
    assert result["correct"] and result["attempted"] >= 1
    assert list(result["metrics"]) == [m.name for m in END_TO_END]
    assert all(v["value"] > 0 for v in result["metrics"].values())
