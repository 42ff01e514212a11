#!/usr/bin/env python3
"""Steadiness of the end-to-end metrics, and the bounds they support.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--write]

Runs every workload `--runs` times in each of two sets (set A on seeds
1..runs, set B on seeds 101..100+runs), one seed per run, with the run
length of BENCHMARK.json. For each end-to-end metric of each workload it
prints each set's and both sets' median and quartiles, the spread
(quartile distance over the median) and the shift between the two
medians. The bound it proposes
for a metric is three times the worst spread or shift seen on any
workload, rounded up to a hundredth; a metric whose proposal exceeds 0.25
cannot be made steady and is named. `setup_s` is proposed the largest
bound. `--write` stores the proposals in BENCHMARK.json.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys

MAX_BOUND = 0.25


def run(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def describe(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = (a.workloads.split(",") if a.workloads
             else [w["name"] for w in bench["workloads"]])
    worst = {m["name"]: 0.0 for m in bench["end_to_end"]}
    report, incorrect = {}, []
    for w in names:
        sets = []
        for base in (0, 100):
            vals, shares = {}, set()
            for seed in range(base + 1, base + a.runs + 1):
                r = run(w, seed, bench["run_seconds"])
                if not r["correct"]:
                    incorrect.append(f"{w} seed {seed}")
                shares.add((r["failed"], r["attempted"]))
                for k, m in r["metrics"].items():
                    vals.setdefault(k, []).append(m["value"])
                print(json.dumps({"workload": w, "seed": seed, **r}), flush=True)
            sets.append((vals, {f / n for f, n in shares}))
        (va, fa), (vb, fb) = sets
        report[w] = {"failed_share": sorted(fa | fb)}
        for k in worst:
            da, db = describe(va[k]), describe(vb[k])
            shift = abs(db["median"] - da["median"]) / da["median"]
            report[w][k] = {"A": da, "B": db, "both": describe(va[k] + vb[k]),
                            "shift": shift}
            worst[k] = max(worst[k], shift,
                           *([] if k == "setup_s" else [da["spread"], db["spread"]]))
    proposed = {k: math.ceil(300 * v) / 100 for k, v in worst.items()}
    if "setup_s" in proposed:
        proposed["setup_s"] = MAX_BOUND
    report["proposed_bounds"] = proposed
    report["cannot_be_steady"] = sorted(k for k, v in proposed.items()
                                        if v > MAX_BOUND)
    report["incorrect_runs"] = incorrect
    print(json.dumps(report, indent=1))
    if a.write:
        for m in bench["end_to_end"]:
            m["bound"] = min(MAX_BOUND, proposed[m["name"]])
        with open("BENCHMARK.json", "w") as f:
            json.dump(bench, f, indent=2)
            f.write("\n")


if __name__ == "__main__":
    main()
