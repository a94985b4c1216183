#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/repeat.py --workload evm_archive --seeds 1-10 [--out FILE]

For every metric of the result line it prints the median and the
distance between the first and third quartile as a share of the median
(statistics.quantiles(values, n=4)), which is how the benchmark's
steadiness is judged. With --out the per-run result lines and the
summary are written as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import run_seconds  # noqa: E402


def seeds_of(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result


def summarize(results):
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"median": med, "iqr_share": (q3 - q1) / med if med else 0.0,
                     "unit": results[0]["metrics"][name]["unit"], "values": vals}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=int, default=run_seconds())
    ap.add_argument("--out")
    args = ap.parse_args()
    results, bad = [], 0
    for seed in seeds_of(args.seeds):
        code, res = run_once(args.workload, seed, args.seconds, 0)
        ok = code == 0 and res is not None and res["correct"]
        bad += not ok
        print(f"seed {seed}: exit {code} correct {res and res['correct']} "
              f"attempted {res and res['attempted']} failed {res and res['failed']}", flush=True)
        if res:
            results.append({"seed": seed, **res})
    summary = summarize(results) if results else {}
    for name, s in summary.items():
        print(f"{name:40s} median {s['median']:14.4f} {s['unit']:8s} iqr/median {s['iqr_share']:.4f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "runs": results, "summary": summary}, f, indent=1)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
