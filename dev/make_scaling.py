#!/usr/bin/env python3
"""Build BENCH_SCALING_r<round>.json: the previous round's two-decade
scaling artifact carried forward, plus fresh sf1/sf10 measurements of
the queries this round re-measured.

Usage:
  python3 dev/make_scaling.py --round N --anchor SF01_JSON --note TEXT

Inputs (all committed files, so a re-run reproduces the artifact):

 - the newest BENCH_SCALING_r<M>.json with M < N — carried forward
   unchanged (entries keep their fields and their measured_round).
 - --anchor: the sf0.1 bench artifact the round measured against. Pass
   a pinned copy, not the live bench_out.json: later bench runs merge
   into that file, and a moved anchor silently changes the output.
   E.g. `git show 4343071:bench_out.json > /tmp/anchor.json` for r15.
 - bench_sf1_r<N><wave>.json / bench_sf10_r<N><wave>.json — best-of-2
   runs of the re-measured queries over MakeSf1 10x/100x replication,
   one pair per measurement wave (wave = "", "b", ...).
 - bench_sf10_r<N><wave>_steady.json (optional) — immediate sf10
   re-runs for cold-transient queries, min-merged.

Exponent per decade: e = log10(t_hi / t_lo), suppressed where the
lower-scale time is under MIN_SEC; exp_decade2 > 1.1 lands in
flagged_over_1.1 for a SURVEY 4.1 root-cause note.

Regenerating a committed artifact takes its own note back, e.g.
  python3 dev/make_scaling.py --round 15 --anchor /tmp/anchor.json \\
    --note "$(python3 -c 'import json; print(json.load(open("BENCH_SCALING_r15.json"))["note"], end="")')"
"""
import argparse
import json
import math
import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

MIN_SEC = 0.3


def read(path):
    with open(path) as f:
        return json.load(f)


def prior_artifact(rnd):
    rounds = [int(m.group(1)) for m in
              (re.fullmatch(r"BENCH_SCALING_r(\d+)\.json", n)
               for n in os.listdir(REPO)) if m and int(m.group(1)) < rnd]
    if not rounds:
        raise SystemExit(f"no BENCH_SCALING artifact before round {rnd}")
    return read(os.path.join(REPO, f"BENCH_SCALING_r{max(rounds):02d}.json"))


def waves(rnd):
    tag = f"r{rnd:02d}"
    for name in sorted(os.listdir(REPO)):
        m = re.fullmatch(rf"bench_sf1_{tag}([a-z]?)\.json", name)
        if not m:
            continue
        w = m.group(1)
        steady = os.path.join(REPO, f"bench_sf10_{tag}{w}_steady.json")
        yield (read(os.path.join(REPO, name))["queries"],
               read(os.path.join(REPO, f"bench_sf10_{tag}{w}.json"))["queries"],
               read(steady)["queries"] if os.path.exists(steady) else {})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--anchor", required=True,
                    help="sf0.1 bench artifact (JSON with a queries map)")
    ap.add_argument("--note", required=True)
    args = ap.parse_args()
    prior = prior_artifact(args.round)
    sf01 = read(args.anchor)["queries"]

    queries = dict(prior["queries"])
    for sf1, sf10, steady in waves(args.round):
        for q in sorted(sf10):
            if q not in sf01 or q not in sf1:
                continue
            t01, t1 = sf01[q], sf1[q]
            t10 = min(sf10[q], steady[q]) if q in steady else sf10[q]
            entry = {
                "sf01": round(t01, 3),
                "sf1": round(t1, 3),
                "sf10": round(t10, 3),
                "ratio_01_to_1": round(t1 / t01, 2),
                "ratio_1_to_10": round(t10 / t1, 2),
                "measured_round": args.round,
            }
            if t01 >= MIN_SEC:
                entry["exp_decade1"] = round(math.log10(t1 / t01), 3)
            if t1 >= MIN_SEC:
                entry["exp_decade2"] = round(math.log10(t10 / t1), 3)
            if q in steady:
                entry["sf10_first_run"] = round(sf10[q], 3)
                entry["steady_state"] = True
            queries[q] = entry

    flagged = sorted(q for q, v in queries.items()
                     if v.get("exp_decade2", 0) > 1.1)

    out = {
        "data_ratio_per_decade": 10.0,
        "note": args.note,
        "capacity_twins": prior["capacity_twins"],
        "flagged_over_1.1": flagged,
        "totals": {
            "sf01": round(sum(v["sf01"] for v in queries.values()), 1),
            "sf1": round(sum(v["sf1"] for v in queries.values()), 1),
            "sf10": round(sum(v["sf10"] for v in queries.values()), 1),
        },
        "queries": queries,
    }
    dst = os.path.join(REPO, f"BENCH_SCALING_r{args.round:02d}.json")
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {dst}: {len(queries)} queries, "
          f"{len(flagged)} flagged: {flagged}")
    for q, v in sorted(queries.items()):
        if v.get("measured_round") == args.round:
            print(f"  r{args.round} {q}: {v}")


if __name__ == "__main__":
    main()
