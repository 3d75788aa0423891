#!/usr/bin/env python3
"""List which per-layer counts repeat exactly across traced runs of one
workload and seed, and so can carry a count claim; the others vary.

    python3 perfbench/stability.py --seed 1 --runs 3 --seconds 10 adhoc loops scans

Run from the root of a checkout. Prints one JSON object.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="+")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    counts = [m["name"] for m in spec["per_layer"] if m["unit"] in ("count", "bytes")]
    out = {"seed": a.seed, "runs": a.runs, "seconds": a.seconds, "workloads": {}}
    for w in a.workloads:
        seen = {k: [] for k in counts}
        for _ in range(a.runs):
            subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", w,
                            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "1"],
                           check=True, stdout=subprocess.DEVNULL)
            summary = json.loads((BENCH / ".run" / f"{w}-s{a.seed}-t1" / "summary.json").read_text())
            for k in counts:
                seen[k].append(summary["per_layer"][k])
        out["workloads"][w] = {
            "exact": {k: v[0] for k, v in sorted(seen.items()) if len(set(v)) == 1},
            "varies": {k: v for k, v in sorted(seen.items()) if len(set(v)) > 1},
        }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
