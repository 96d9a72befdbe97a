#!/usr/bin/env python3
"""Alternating perfbench pairs: a parent checkout against a change checkout.

Run from anywhere:

    python3 tools/perfpairs.py --parent DIR --change DIR --out FILE \
        [--pairs 10] [--first-seed 2] [--parent-sha SHA] [--change-sha SHA]
    python3 tools/perfpairs.py --summarize FILE

For each workload of BENCHMARK.json and each seed
first-seed .. first-seed+pairs-1 it runs BENCHMARK.json's command
(`python3 perfbench/run.py --workload W --seed N --seconds S --trace 0`)
once in each checkout, one call at a time, the parent first on odd seeds
and the change first on even ones. Each call appends one JSON line to FILE:

    {"side", "sha", "workload", "seed", "correct", "attempted", "failed",
     "metrics": {name: {"value", "unit"}}}

Then, as `--summarize FILE` does without running anything, it prints for
each workload and end-to-end metric of BENCHMARK.json both sides' median
and quartiles, how many pairs the change wins, and whether the change's
median is within the metric's bound of the parent's (unresolved when
either side's interquartile range exceeds the bound). Quartiles are
Python's `statistics.quantiles(n=4)` (the exclusive method).

The first call in each checkout builds it with sbt (1-2 min). Run nothing
else meanwhile: the machine's load is part of every sample.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def fmt(v):
    if abs(v) >= 1000:
        return f"{v:.0f}"
    if abs(v) >= 100:
        return f"{v:.1f}"
    return f"{v:.2f}"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def call(bench, checkout, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"perfpairs: {' '.join(cmd)} in {checkout} exited {p.returncode}:\n"
                 + p.stderr[-2000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


def run_pairs(bench, a):
    sides = {"parent": (a.parent, a.parent_sha), "change": (a.change, a.change_sha)}
    workloads = [w["name"] for w in bench["workloads"]]
    with open(a.out, "a") as out:
        for w in workloads:
            for seed in range(a.first_seed, a.first_seed + a.pairs):
                order = ["parent", "change"] if seed % 2 == 1 else ["change", "parent"]
                for side in order:
                    checkout, sha = sides[side]
                    r = call(bench, checkout, w, seed)
                    line = {"side": side, "sha": sha, "workload": w, "seed": seed,
                            "correct": r["correct"], "attempted": r["attempted"],
                            "failed": r["failed"], "metrics": r["metrics"]}
                    out.write(json.dumps(line) + "\n")
                    out.flush()
                    tps = r["metrics"].get("turns_per_s", {}).get("value", 0.0)
                    print(f"{w} seed {seed} {side}: turns_per_s {fmt(tps)}, "
                          f"failed {r['failed']} of {r['attempted']}", flush=True)


def summarize(bench, path):
    rows = [json.loads(l) for l in open(path) if l.strip()]
    workloads = []
    for r in rows:
        if r["workload"] not in workloads:
            workloads.append(r["workload"])
    for w in workloads:
        by_side = {s: {r["seed"]: r for r in rows if r["workload"] == w and r["side"] == s}
                   for s in ("parent", "change")}
        seeds = sorted(set(by_side["parent"]) & set(by_side["change"]))
        calls = {s: len(by_side[s]) for s in by_side}
        failed = {s: sum(r["failed"] for r in by_side[s].values()) for s in by_side}
        print(f"{w}: {len(seeds)} pairs (seeds {seeds[0] if seeds else '-'}"
              f"..{seeds[-1] if seeds else '-'}); calls parent {calls['parent']}, "
              f"change {calls['change']}; failed runs parent {failed['parent']}, "
              f"change {failed['change']}")
        for m in bench["end_to_end"]:
            name, higher = m["name"], m["better"] == "higher"
            vals = {s: [by_side[s][n]["metrics"][name]["value"] for n in seeds] for s in by_side}
            if not seeds:
                continue
            pq1, pmed, pq3 = quartiles(vals["parent"])
            cq1, cmed, cq3 = quartiles(vals["change"])
            wins = sum((c > p) if higher else (c < p)
                       for p, c in zip(vals["parent"], vals["change"]))
            worse = (pmed - cmed) / pmed if higher else (cmed - pmed) / pmed
            within = "yes" if worse <= m["bound"] else "NO"
            # a spread wider than the bound cannot resolve a regression,
            # unless every change run beats every parent run
            better_all = (min(vals["change"]) > max(vals["parent"]) if higher
                          else max(vals["change"]) < min(vals["parent"]))
            if max(pq3 - pq1, cq3 - cq1) / pmed > m["bound"] and not better_all:
                within += " (unresolved: spread wider than the bound)"
            print(f"  {w} {name} {fmt(pmed)} → {fmt(cmed)} {m['unit']} "
                  f"({(cmed - pmed) / pmed * 100:+.1f}%, {m['better']} is better); "
                  f"parent IQR {fmt(pq3 - pq1)} [{fmt(pq1)}, {fmt(pq3)}], "
                  f"change IQR {fmt(cq3 - cq1)} [{fmt(cq1)}, {fmt(cq3)}]; "
                  f"change wins {wins}/{len(seeds)}; within {m['bound']} bound: {within}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--summarize", metavar="FILE", help="only read FILE and print the summary")
    ap.add_argument("--parent", type=Path, help="parent checkout")
    ap.add_argument("--change", type=Path, help="change checkout")
    ap.add_argument("--out", type=Path, help="JSON lines file to append to")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=2)
    ap.add_argument("--parent-sha", default="parent")
    ap.add_argument("--change-sha", default="change")
    a = ap.parse_args()
    bench = json.loads(BENCHMARK.read_text())
    if a.summarize:
        summarize(bench, a.summarize)
        return
    if not (a.parent and a.change and a.out):
        ap.error("--parent, --change and --out are required unless --summarize is given")
    run_pairs(bench, a)
    summarize(bench, a.out)


if __name__ == "__main__":
    main()
