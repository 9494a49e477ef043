"""Tracing overhead: one untraced and one traced run of a workload with
the same seed, and the difference of their timed-phase figures.

    python3 perfbench/overhead.py --workload sensor_api --seed 1

Run from the repository root. Prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    plain = _run(a.workload, a.seed, 0)
    traced = _run(a.workload, a.seed, 1)
    res = {}
    for name in ("pass_s", "op_ms_gmean"):
        p, t = plain[name]["value"], traced[f"trace.{name}"]["value"]
        res[name] = {"untraced": p, "traced": t, "overhead": t - p, "overhead_share": (t - p) / p}
    print(json.dumps(res))


if __name__ == "__main__":
    main()
