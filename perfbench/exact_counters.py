#!/usr/bin/env python3
"""Find the per-layer counters that repeat exactly across runs of one seed.

    python3 perfbench/exact_counters.py --seed 1 --seconds 8 --runs 2

Runs every workload's traced run ``--runs`` times with the same seed and
writes ``perfbench/EXACT_COUNTERS.json``: per workload, the counters whose
value was identical in every run (with that value), and the others (with
every value seen). Only the first kind can back a claim made as a count.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_metrics(workload: str, seed: int, seconds: float) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        check=True, capture_output=True, text=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload}: outputs failed their checks")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()
    report = {"seed": args.seed, "runs": args.runs, "workloads": {}}
    for name in WORKLOADS:
        runs = [traced_metrics(name, args.seed, args.seconds) for _ in range(args.runs)]
        exact, varied = {}, {}
        for metric in runs[0]:
            values = [r[metric] for r in runs]
            if len(set(values)) == 1:
                exact[metric] = values[0]
            else:
                varied[metric] = values
        report["workloads"][name] = {"exact": exact, "varied": varied}
    with open(os.path.join(HERE, "EXACT_COUNTERS.json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
