#!/usr/bin/env python3
"""A/A steadiness check: run the benchmark repeatedly on one commit.

    python3 perfbench/steadiness.py --sets 2 --runs 10 --out perfbench/steadiness.json

For each workload and each set, runs ``BENCHMARK.json``'s command once
per seed (set k, counted from 0, uses seeds ``--seed-base`` + k*100 + 1
.. + runs, so any recorded set can be run again), then records, per
end-to-end metric, the median, the quartiles (``statistics.quantiles``,
n=4) and their spread ``(q3 - q1) / median``, and how far each set's
median sits from the first set's.  It also keeps every run's pass
times (cold pass first) and the host's CPU steal over the run, and, per
set, the median pass time by pass index: the warm-up curve.  Runs are
sequential: one Spark JVM at a time.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=240)
    wall = time.monotonic() - t0
    if proc.returncode != 0:
        sys.exit(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    passes = [float(x) for x in re.findall(r"^pass \d+: ([\d.]+)s", proc.stderr, re.M)]
    steal = float(re.search(r"^host\.steal_pct ([\d.]+)", proc.stderr, re.M).group(1))
    return {"seed": seed, "wall_s": round(wall, 1), "steal_pct": steal,
            "result": result, "passes": passes}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def warmup_curve(runs: list[dict]) -> list[float]:
    """Median pass time by pass index (0 = cold) over the runs that
    reached that index."""
    longest = max(len(r["passes"]) for r in runs)
    return [
        statistics.median(r["passes"][i] for r in runs if len(r["passes"]) > i)
        for i in range(longest)
    ]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed-base", type=int, default=0)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--out", type=Path)
    args = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    report: dict = {"command": bench["command"], "run_seconds": bench["run_seconds"],
                    "seed_base": args.seed_base, "workloads": {}}
    for w in workloads:
        sets = []
        for k in range(args.sets):
            runs = []
            for i in range(1, args.runs + 1):
                seed = args.seed_base + k * 100 + i
                r = run_once(bench["command"], w, seed, bench["run_seconds"])
                print(w, k, r["seed"], r["wall_s"], r["result"], file=sys.stderr)
                runs.append(r)
            metrics = {
                m["name"]: summary([r["result"]["metrics"][m["name"]]["value"] for r in runs])
                for m in bench["end_to_end"]
            }
            sets.append({"seeds": [r["seed"] for r in runs],
                         "steal_pct": summary([r["steal_pct"] for r in runs]),
                         "metrics": metrics, "warmup_curve": warmup_curve(runs),
                         "runs": runs})
        for m in bench["end_to_end"]:
            first = sets[0]["metrics"][m["name"]]["median"]
            for s in sets[1:]:
                s["metrics"][m["name"]]["median_change"] = (
                    s["metrics"][m["name"]]["median"] / first - 1
                )
        report["workloads"][w] = sets
        if args.out:
            args.out.write_text(json.dumps(report, indent=1) + "\n")
    for w, sets in report["workloads"].items():
        for k, s in enumerate(sets):
            print(w, f"set{k}", {n: round(v["spread"], 4) for n, v in s["metrics"].items()})
    return 0


if __name__ == "__main__":
    sys.exit(main())
