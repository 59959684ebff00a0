"""Print every metric of every workload for one seed, from the repo root:

    python3 perfbench/report.py --seed 1

Runs run.py untraced and then traced for each workload in BENCHMARK.json.
The untraced run prints the end-to-end metrics, the traced run the
per-layer ones, the layer -> end-to-end map, the span coverage and the
tracing overhead (traced minus untraced, same seed).
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        cfg = json.load(f)
    code = 0
    for w in cfg["workloads"]:
        for trace in (0, 1):
            print(f"## {w['name']} trace={trace}: {w['why']}", flush=True)
            code |= subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                 "--seed", str(args.seed), "--seconds", str(cfg["run_seconds"]),
                 "--trace", str(trace)],
            ).returncode
    return code


if __name__ == "__main__":
    sys.exit(main())
