#!/usr/bin/env python3
"""Record the benchmark's result at the current commit.

    python3 perfbench/baseline.py [--seeds 1-5] [--workloads evm_archive,...]

For every workload it runs the seeds untraced and traced, and keeps:
  - the untraced end-to-end metrics (median over the seeds, and the spread);
  - the traced per-layer metrics (median over the seeds);
  - the tracing overhead: each traced figure against its untraced twin, as
    (traced - untraced) / untraced;
  - one untraced run on the held-out seed, whose checks must pass too.
"""
import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import repeat  # noqa: E402

WORKLOADS = ["evm_archive", "curation_drain", "corpus_batch"]

# the held-out seed for gain claims: used here and to confirm a claim, never to tune
HELD_OUT = 1009

OUT = os.path.join(HERE, "baseline", "HEAD.json")

# traced figure -> the untraced end-to-end metric it repeats
TWINS = {"traced.setup_s": "setup_s", "traced.throughput_per_s": "throughput_per_s",
         "traced.op_p50_ms": "op_p50_ms"}


def runs(workload, seeds, seconds, trace):
    out = []
    for s in seeds:
        code, res = repeat.run_once(workload, s, seconds, trace)
        print(f"{workload} seed {s} trace {trace}: exit {code} correct {res and res['correct']}",
              flush=True)
        if code != 0 or not res or not res["correct"]:
            sys.exit(f"{workload} seed {s} trace {trace} failed")
        out.append({"seed": s, **res})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    args = ap.parse_args()
    seeds = repeat.seeds_of(args.seeds)
    seconds = repeat.run_seconds()
    commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], capture_output=True,
                            text=True).stdout.strip() or None
    # re-recording some workloads keeps the others already in the file
    kept = json.load(open(OUT))["workloads"] if os.path.exists(OUT) else {}
    result = {"commit": commit, "seeds": seeds, "seconds": seconds,
              "host": {"cpus": os.cpu_count(), "machine": platform.machine()},
              "workloads": kept}
    for w in args.workloads.split(","):
        plain = repeat.summarize(runs(w, seeds, seconds, 0))
        traced = repeat.summarize(runs(w, seeds, seconds, 1))
        overhead = {t: (traced[t]["median"] - plain[u]["median"]) / plain[u]["median"]
                    for t, u in TWINS.items() if plain[u]["median"]}
        held = runs(w, [HELD_OUT], seconds, 0)[0]
        result["workloads"][w] = {
            "held_out_seed": {k: held[k] for k in ("seed", "correct", "attempted", "failed")},
            "end_to_end": {k: {"median": v["median"], "iqr_share": v["iqr_share"],
                               "unit": v["unit"]} for k, v in plain.items()},
            "per_layer": {k: {"median": v["median"], "unit": v["unit"]}
                          for k, v in traced.items()},
            "tracing_overhead": overhead,
        }
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
