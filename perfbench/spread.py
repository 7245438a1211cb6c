"""Run one workload over several seeds and print, for each metric, its
median and its spread: the distance between the first and third quartile
as a share of the median.

    python3 perfbench/spread.py --workload search --seeds 1-10 [--trace 1]
    python3 perfbench/spread.py --workload search --seeds 7,7,7,7,7   # one seed, back to back
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    """``a-b`` for a range, or a comma-separated list (repeats allowed)."""
    if "," in spec:
        return [int(s) for s in spec.split(",")]
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    sys.path[0] = ROOT
    from perfbench import stats

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {}
    for s in seeds(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(s),
            "--seconds", str(seconds), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        wall = time.perf_counter() - t0
        shown = " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items() if m["value"])
        print(f"seed {s}: {wall:.1f} s, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} {shown}", file=sys.stderr)
        for line in out.stderr.splitlines():
            if "perfbench:" in line:  # a progress bar may share the line
                print("  " + line[line.index("perfbench:"):], file=sys.stderr)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        values.setdefault("run_wall_s", []).append(wall)
    for name, xs in values.items():
        med = stats.median(xs)
        spread = stats.iqr_frac(xs) if len(xs) > 1 and med else 0.0
        print(f"{name:40s} median {med:14.4f}  spread {spread:7.2%}  n={len(xs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
