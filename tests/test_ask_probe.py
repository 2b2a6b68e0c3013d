"""The synthetic-graph ask probe (tools/ask_probe.py) runs end to end on a
20k-edge graph of each shape in a child process and prints every figure its
docstring names, with the ask at 3 Spark jobs: a probe that stopped
reporting would leave the ask's cost on a large graph unmeasured.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("shape", ["uniform", "hub"])
def test_ask_probe_reports_every_figure(shape):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "ask_probe.py"), "--edges", "20000",
         "--shape", shape, "--asks", "2", "--master", "local[2]"],
        cwd=REPO, capture_output=True, text=True, timeout=900, check=True,
    )
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"edges_drawn", "shape", "k", "master", "write_s", "edges",
                        "linked_edge_frac", "ask_s", "jobs", "tasks", "rows", "digest"}
    assert 0.9 * 20000 < out["edges"] <= 20000
    assert (out["linked_edge_frac"] > 0.5) == (shape == "hub")
    assert set(out["ask_s"]) == {"median", "q1", "q3", "runs"} and len(out["ask_s"]["runs"]) == 2
    assert out["ask_s"]["q1"] <= out["ask_s"]["median"] <= out["ask_s"]["q3"]
    assert out["jobs"] == len(out["tasks"]) == 3
    assert out["rows"] == 16 * out["k"]
