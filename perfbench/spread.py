"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload sync_trickle --seeds 1-10

Runs the benchmark once per seed (untraced, BENCHMARK.json's
run_seconds) and prints, per metric, the median and the distance between
the first and third quartiles (``statistics.quantiles(n=4)``) as a share
of the median, next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in _seeds(args.seeds):
        res = run_once(args.workload, seed, spec["run_seconds"])
        for name, m in res["metrics"].items():
            values[name].append(m["value"])
        print(f"seed {seed}: " + json.dumps({k: round(v["value"], 4) for k, v in res["metrics"].items()}), flush=True)
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        print(f"{m['name']:>14}: median {med:.4f}  spread {(q3 - q1) / med:.3f}  bound {m['bound']}")


if __name__ == "__main__":
    main()
