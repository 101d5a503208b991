"""Tracing overhead: one untraced and one traced run of the same
workload and seed; prints the traced end-to-end figures (``trace.*``)
against the untraced ones.

    python3 perfbench/overhead.py --workload sync_trickle --seed 1
"""

from __future__ import annotations

import argparse
import json
import os

from spread import run_once

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    plain = run_once(args.workload, args.seed, seconds, trace=0)["metrics"]
    traced = run_once(args.workload, args.seed, seconds, trace=1)["metrics"]
    for name in ("op_p50_norm_s", "ops_per_norm_s"):
        a, b = plain[name]["value"], traced[f"trace.{name}"]["value"]
        print(f"{args.workload} {name}: untraced {a:.4f}  traced {b:.4f}  traced/untraced {b / a:.3f}")


if __name__ == "__main__":
    main()
