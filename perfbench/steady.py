"""Steadiness evidence: run each workload several times, each with its own
seed, and report how much every end-to-end metric spreads.

Usage (from the repository root):

    python3 perfbench/steady.py --workload sqlgen --workload execute \\
        --seeds 1 2 3 4 5 6 7 8 9 10 --seconds 10

For each workload and metric it prints the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the interquartile
range as a share of the median, next to the metric's bound from
``BENCHMARK.json``. For each run it prints the first-vs-last timed pass
ratio, ``jvm.jit_s`` of every pass (warm-up passes first), and the
host's single-thread canary, which is recorded as a covariate only.
Runs go one after another, never in parallel.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    """(info line, result line) of one run."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--seeds", type=int, nargs="+", default=list(range(1, 11)))
    p.add_argument("--seconds", type=int, default=None,
                   help="default: run_seconds from BENCHMARK.json")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    report = {}
    for workload in args.workload:
        runs = []
        for seed in args.seeds:
            info, result = run_once(workload, seed, seconds)
            timed = [q["wall_s"] for q in info["passes"] if q["kind"] == "timed"]
            row = {
                "seed": seed,
                "correct": result["correct"],
                "failed": result["failed"],
                "attempted": result["attempted"],
                "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                "first_vs_last_pass": timed[-1] / timed[0],
                "jit_s_per_pass": [round(q["jit_s"], 3) for q in info["passes"]],
                "canary_s": info["canary_s"],
            }
            runs.append(row)
            print(json.dumps({"workload": workload, **row}), flush=True)
        summary = {}
        for name in runs[0]["metrics"]:
            s = spread([r["metrics"][name] for r in runs])
            s["bound"] = bounds.get(name)
            summary[name] = s
            print(f"{workload:8s} {name:14s} median {s['median']:.4f}  "
                  f"q1 {s['q1']:.4f}  q3 {s['q3']:.4f}  "
                  f"iqr/median {s['iqr_share']:.3f}  bound {s['bound']}", flush=True)
        report[workload] = {"runs": runs, "spread": summary}
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
