#!/usr/bin/env python3
"""Run each workload several times, one seed per run, and report every
end-to-end metric's median, quartiles and spread, the spread being the
interquartile distance as a share of the median (statistics.quantiles,
n=4), against the bound BENCHMARK.json gives it. It also reports the
share of failed operations per run, which must be the same in every run,
and whether /tmp/graft_* grew across the runs.

Usage: python3 perfbench/steadiness.py [--runs 10] [--first-seed 1]
                                       [--workloads a,b] [--out FILE]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from common import ROOT, graft_tmp  # noqa: E402


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    tmp_before = graft_tmp()
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + i
            r = subprocess.run(
                spec["command"] + ["--workload", w, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]),
                                   "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stderr[-3000:])
                sys.exit(f"{w} seed {seed}: exit {r.returncode}")
            runs.append(json.loads(r.stdout.strip().splitlines()[-1]))
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in
                runs[-1]["metrics"].items()), flush=True)
        shares = {(x["failed"], x["attempted"]) for x in runs}
        rep = {"correct": all(x["correct"] for x in runs),
               "failed_share": sorted({f / n for f, n in shares}),
               "metrics": {}}
        for m in bounds:
            vals = [x["metrics"][m]["value"] for x in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            rep["metrics"][m] = {
                "median": med, "q1": q1, "q3": q3, "spread": spread,
                "bound": bounds[m], "within_bound": spread <= bounds[m],
                "within_third": spread <= bounds[m] / 3, "values": vals}
        report[w] = rep
        print(f"\n{w}: correct={rep['correct']} "
              f"failed share={rep['failed_share']}")
        print(f"  {'metric':14s} {'median':>11s} {'q1':>11s} {'q3':>11s} "
              f"{'spread':>7s} {'bound':>6s}")
        for m, v in rep["metrics"].items():
            flag = "" if v["within_third"] else (
                "  above bound/3" if v["within_bound"] else "  ABOVE BOUND")
            print(f"  {m:14s} {v['median']:11.4f} {v['q1']:11.4f} "
                  f"{v['q3']:11.4f} {v['spread']:7.3f} {v['bound']:6.2f}"
                  f"{flag}")
        print(flush=True)
    grown = sorted(graft_tmp() - tmp_before)
    report["tmp_graft_new_entries"] = grown
    print(f"/tmp/graft_* entries left behind by the runs: {len(grown)}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
