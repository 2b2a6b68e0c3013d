"""Tiny-scale self-test of the benchmark (about three minutes):

    python3 perfbench/selftest.py

For every workload, an untraced and a traced run at 2% scale must print
every metric BENCHMARK.json names, with its unit, and pass the oracle; a run
whose jobs lose one output edge (or answer row) must report failures.
"""

from __future__ import annotations

import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.ledger import stop_descendants  # noqa: E402
from perfbench.run import run  # noqa: E402

SCALE = 0.02
WORK = os.path.join(HERE, ".work", "selftest")


def drop_one(rows):
    return rows.iloc[1:] if hasattr(rows, "iloc") else rows[1:]


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(name, seed=7, seconds=1, trace=bool(trace), scale=SCALE, work=WORK)["result"]
            if not res["correct"] or res["failed"]:
                problems.append(f"{name} trace={trace}: oracle check failed: {res}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not math.isfinite(got["value"]):
                    problems.append(f"{name} trace={trace}: metric {m['name']} missing or "
                                    f"without unit {m['unit']}: {got}")
        out = run(name, seed=7, seconds=1, trace=False, scale=SCALE, tamper=drop_one, work=WORK)
        if out["result"]["failed"] == 0 or out["report"]["ungated"]["failed_frac"] <= 0:
            problems.append(f"{name}: a dropped output row was not counted as a failure")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    try:
        code = main()
    finally:
        stop_descendants()
    sys.exit(code)
