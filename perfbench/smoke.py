"""Smoke test of the benchmark itself: every workload at a tiny size
(a few hundred docs; 100 documents / 40 embeddings for batch), untraced
and traced. Asserts that each run exits 0, that every metric named in
BENCHMARK.json is printed with its unit, and that error_rate is 0.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--tiny"],
        capture_output=True, text=True, cwd=ROOT, timeout=300)
    lines = out.stdout.strip().splitlines()
    assert out.returncode == 0, f"{workload} trace={trace}: exit {out.returncode}\n{out.stdout}"
    named = {}
    for line in lines:
        if line.startswith("metric "):
            _, name, value, unit = line.split()
            named[name] = (float(value), unit)
    return json.loads(lines[-1]), named


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, named = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics {got} != {want}"
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            assert named["error_rate"] == (0.0, "ratio"), named["error_rate"]
            if trace == 0:
                for name, unit in want.items():
                    assert named[name][1] == unit, (name, named[name])
                    assert res["metrics"][name]["value"] > 0, (name, res["metrics"][name])
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} ops checked", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
