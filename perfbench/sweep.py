"""Run one workload on several seeds and summarise each metric.

    python3 perfbench/sweep.py --workload kg_fused --seeds 1-10 [--seconds 5]

Prints one line per run, then per end-to-end metric its median, its
quartiles, and the spread (third minus first quartile, as a share of
the median) next to the metric's bound from ``BENCHMARK.json``. Runs
are sequential: the benchmark must be the only load on the machine.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", type=int)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]

    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    bad = 0
    for seed in _seeds(args.seeds):
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        notes = [json.loads(line[2:]) for line in lines if line.startswith("# ")]
        steal = next((n["steal_cpu_s"] for n in notes if "steal_cpu_s" in n), None)
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if proc.returncode or result is None or not result["correct"]:
            bad += 1
            print(f"seed {seed}: exit {proc.returncode}", proc.stderr[-2000:], flush=True)
            continue
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: steal {steal} s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)

    for m in bench["end_to_end"]:
        v = values[m["name"]]
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']:>12}: median {med:.4g} {m['unit']}  q1 {q1:.4g}  q3 {q3:.4g}  "
              f"spread {(q3 - q1) / med:.3f} (bound {m['bound']})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
