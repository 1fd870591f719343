"""Self-test of the benchmark: short runs of every workload on tiny inputs.

    python3 -m pytest perfbench/test_perfbench.py -q

Each run is the real command at sf 0.001 with a one-second window.  The test
checks the output contract against ``BENCHMARK.json``: every end-to-end and
per-layer metric is printed by name with its unit, an injected failure shows
in ``failed``, and an altered result turns ``correct`` false.  The runs start
from a working directory outside the repository root, which is where the
package must still reach Spark's Python workers.  About four minutes on four
cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    cwd = os.path.join(HERE, "_work", "elsewhere")
    os.makedirs(cwd, exist_ok=True)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra],
        capture_output=True, text=True, cwd=cwd, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


def assert_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_and_clean_outputs(workload):
    result, report = bench(workload, 0)
    assert_metrics(result, SPEC["end_to_end"])
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert "failed_frac" in report and "wrong_results" in report
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    # the metrics printed but not gated, each with its unit
    reported = ("first_pass_s", "pass_s", "query_s.geomean", "query_cpu_s.tail", "query_s.tail")
    for name in reported:
        line = next(line for line in report.splitlines() if line.split()[:1] == [name])
        assert line.split()[2] == "s" and "(not gated)" in line, line


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_per_layer_metrics(workload):
    result, report = bench(workload, 1)
    assert_metrics(result, SPEC["per_layer"])
    assert result["correct"] is True
    values = {k: v["value"] for k, v in result["metrics"].items()}
    assert values["jobs"] > 0 and values["stages"] > 0 and values["tasks"] > 0
    assert values["executor.run_s"] > 0 and values["session.start_s"] > 0
    assert "trace file:" in report
    if workload == "embed_stream":
        # e13 runs on the stream sub-session, cloned in the cold pass
        assert values["session.clone_calls"] > 0 and values["session.clone_s"] > 0
        assert values["coarse.calls"] > 0


def test_injected_failure_and_altered_result_are_counted():
    result, report = bench(
        "spj_dialect", 0,
        "--inject-failure", "sd02_filter_project", "--alter-result", "sd03_join2_project",
    )
    # sd02 raises in the cold pass, every warm pass and the output check
    assert result["failed"] >= 3
    assert result["correct"] is False
    assert "RuntimeError: injected failure in sd02_filter_project" in report
    assert "sd03_join2_project: mismatch" in report
    wrong = next(line for line in report.splitlines() if "wrong_results" in line)
    assert wrong.split()[1] == "1"


def test_refuses_to_run_without_the_package():
    bare = os.path.join(HERE, "_work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("_work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "spj_dialect", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, cwd=bare, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    shutil.rmtree(bare)
