#!/usr/bin/env python3
"""Write a workload's per-layer profile: one untraced and one traced run.

    python3 perfbench/profile.py --workload W --seed N [--seconds S]

Runs ``perfbench/run.py`` twice with the same seed, first with tracing off
and then on, and writes ``perfbench/profiles/<workload>.json``: both runs'
end-to-end metrics, the tracing overhead (traced minus untraced, per
metric), every per-layer metric and the self time per traced span name.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stderr)
        sys.exit(f"run.py failed for {workload} trace={trace}")
    summary, result = json.loads(lines[-2]), json.loads(lines[-1])
    if not result["correct"]:
        sys.exit(f"output checks failed for {workload} trace={trace}")
    return summary["end_to_end"]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]
    untraced = run(args.workload, args.seed, seconds, 0)
    traced = run(args.workload, args.seed, seconds, 1)
    with open(os.path.join(ROOT, ".bench_build", "reports",
                           f"{args.workload}-seed{args.seed}-trace1.json")) as f:
        report = json.load(f)
    overhead = {k: {"traced_minus_untraced": traced[k]["value"] - v["value"],
                    "share": (traced[k]["value"] - v["value"]) / v["value"] if v["value"] else None,
                    "unit": v["unit"]}
                for k, v in untraced.items() if k in traced}
    profile = {"workload": args.workload, "seed": args.seed, "seconds": seconds,
               "cpus": len(os.sched_getaffinity(0)),
               "end_to_end_untraced": untraced, "end_to_end_traced": traced,
               "tracing_overhead": overhead, "per_layer": report["per_layer"],
               "self_ms_by_span": report["self_ms"]}
    os.makedirs(os.path.join(HERE, "profiles"), exist_ok=True)
    path = os.path.join(HERE, "profiles", f"{args.workload}.json")
    with open(path, "w") as f:
        json.dump(profile, f, indent=1, sort_keys=True)
        f.write("\n")
    print(path)


if __name__ == "__main__":
    main()
