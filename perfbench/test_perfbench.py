"""The benchmark's own tests: declared names are well formed, and a
tiny-input run of each workload completes, checks its outputs and
prints exactly the declared metrics with their units.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import sys

import pytest

import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    DECLARED = json.load(fh)


def test_declared_names_units_and_bounds():
    assert [w["name"] for w in DECLARED["workloads"]] == list(run.WORKLOADS)
    metrics = DECLARED["end_to_end"] + DECLARED["per_layer"]
    names = [w["name"] for w in DECLARED["workloads"]] + [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert all(UNIT.fullmatch(m["unit"]) for m in metrics)
    assert all(m["better"] in ("lower", "higher") for m in metrics)
    assert all(0 < m["bound"] <= 0.25 for m in DECLARED["end_to_end"])


def test_printed_metrics_must_match_computed_ones():
    result_metrics = run.result_metrics
    decl = [{"name": "a.x", "unit": "s"}, {"name": "b.y", "unit": "count"}]
    assert result_metrics({"a.x": 1.5}, decl, ("b.",)) == {
        "a.x": {"value": 1.5, "unit": "s"},
        "b.y": {"value": 0.0, "unit": "count"},
    }
    with pytest.raises(RuntimeError, match="not computed"):
        result_metrics({"a.x": 1.5}, decl)
    with pytest.raises(RuntimeError, match="undeclared"):
        result_metrics({"a.x": 1.5, "b.y": 2.0, "a.z": 3.0}, decl)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in DECLARED["workloads"]])
def test_smoke_run_prints_declared_metrics(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, info_line, result_line = proc.stdout.splitlines()
    info, result = json.loads(info_line)["info"], json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in DECLARED["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    # what the workload computed, before zero-filling the layers it never enters
    unentered = run.UNENTERED[workload] if trace else ()
    assert set(info["metrics_computed"]) == {n for n in declared if not n.startswith(unentered)}
    assert all(math.isfinite(v["value"]) for v in result["metrics"].values())
