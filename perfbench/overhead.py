"""Tracing overhead: run one workload untraced and traced with the same seed
and print, for each end-to-end metric, traced minus untraced, followed by
the traced run's per-layer metrics.

    python3 perfbench/overhead.py --workload pipeline --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def measure(workload: str, seed: int, seconds: float, trace: int) -> dict:
    with tempfile.TemporaryDirectory(dir=os.path.dirname(HERE), prefix=".perfbench_trace") as d:
        out = os.path.join(d, "run.json")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--trace-out", out],
            check=True, stdout=subprocess.DEVNULL,
        )
        with open(out) as f:
            return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    off = measure(args.workload, args.seed, args.seconds, 0)["end_to_end"]
    traced = measure(args.workload, args.seed, args.seconds, 1)
    on = traced["end_to_end"]
    print(json.dumps({
        "overhead": {k: {"untraced": off[k], "traced": on[k], "traced_minus_untraced": on[k] - off[k]}
                     for k in off},
        "per_layer": traced["per_layer"],
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
