"""Self-test of the benchmark: every workload at minimal size, untraced and
traced. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(REPO, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    cmd = [sys.executable, *BENCH["command"][1:]]
    cmd += ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(
        cmd + ["--scale", "smoke"], cwd=REPO, capture_output=True, text=True, timeout=400
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    return lines[:-1], json.loads(lines[-1])


def _output_line(notes: list[str], prefix: str) -> str:
    (line,) = [n for n in notes if n.startswith(prefix)]
    return line


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_unit(workload):
    untraced_notes, untraced = _run(workload, 0)
    traced_notes, traced = _run(workload, 1)
    for result, kind in ((untraced, "end_to_end"), (traced, "per_layer")):
        assert result["correct"], result
        assert result["failed"] == 0 and result["attempted"] >= 1
        for spec in BENCH[kind]:
            got = result["metrics"][spec["name"]]
            assert got["unit"] == spec["unit"], spec["name"]
            assert isinstance(got["value"], (int, float)), spec["name"]
        assert set(result["metrics"]) == {spec["name"] for spec in BENCH[kind]}

    # the traced pass computes what the untraced passes compute
    untraced_hash = json.loads(_output_line(untraced_notes, "output {")[len("output "):])
    line = _output_line(traced_notes, "output untraced=")
    a, b = line[len("output untraced="):].split(" traced=")
    assert json.loads(a) == json.loads(b) == untraced_hash
