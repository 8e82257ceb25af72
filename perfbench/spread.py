"""Run one workload under several seeds and report each end-to-end
metric's median and interquartile spread (IQR / median), the figure the
benchmark's bounds are checked against.

    python3 perfbench/spread.py --workload api --seeds 1 2 3 4 5 --seconds 15
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    ok = True
    for seed in args.seeds:
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, RUN, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        ok &= out.returncode == 0 and bool(res) and res["correct"]
        print(f"seed {seed}: exit {out.returncode} wall {wall:.1f}s "
              f"correct {res and res['correct']}", flush=True)
        if res:
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        values.setdefault("wall_s", []).append(wall)
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:32s} median {med:12.4f} spread {spread:7.3f}  "
              + " ".join(f"{x:.4g}" for x in xs))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
