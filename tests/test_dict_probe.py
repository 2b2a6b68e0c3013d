"""The synthetic-dictionary probe (tools/dict_probe.py) runs end to end on a
small dictionary in a child process and prints every figure its docstring
names: a probe that stopped reporting, or reported a stale handle, would
leave the dictionary's cost unmeasured.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dict_probe_reports_every_figure():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "dict_probe.py"),
         "--aliases", "2000", "--master", "local[2]"],
        cwd=REPO, capture_output=True, text=True, timeout=900, check=True,
    )
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"aliases", "master", "write_s", "cold_ask", "first", "repeat",
                        "same_handle", "driver_peak_rss_mb", "link", "kernel"}
    assert out["same_handle"] is True
    assert out["cold_ask"]["tasks"] == [1] and out["cold_ask"]["rows"] == 16
    for run in ("first", "repeat"):
        assert set(out[run]) == {"ship", "link", "workers"}
        assert out[run]["link"]["rows"] == 16
        assert all(set(w) == {"pid", "ready_s", "rss_mb"} for w in out[run]["workers"])
    assert out["repeat"]["ship"]["jobs"] == 0
    assert out["link"]["pairs"] == out["link"]["linked"] > 0
    assert out["link"]["us_per_pair"] > 0
    small, large = out["kernel"]
    assert small["turns"] == large["turns"] > 0
    assert large["keys"] == small["keys"] + 2000
    assert small["rows"] > 0 and large["rows"] > 0
