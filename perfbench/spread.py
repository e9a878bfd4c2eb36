#!/usr/bin/env python3
"""Median, quartiles and spread of end-to-end metrics over benchmark runs.

    python3 perfbench/spread.py WORKLOAD OUT_FILE... [--json]

Each OUT_FILE holds the standard output of one `run.py --trace 0` run;
its last line is the result object. The spread of a metric is the
distance between its first and third quartile (statistics.quantiles,
n=4) as a share of its median; each is checked against the metric's
bound in BENCHMARK.json. --json prints the summary as the object that
results/seed_baseline.json holds for each workload.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    args = [a for a in sys.argv[1:] if a != "--json"]
    workload, files = args[0], args[1:]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.loads(fh.read().strip().splitlines()[-1]))
    out = {"workload": workload, "runs": len(runs),
           "correct": all(r["correct"] for r in runs),
           "failed": sum(r["failed"] for r in runs), "metrics": {}}
    for name, m in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        spread = (q3 - q1) / med
        out["metrics"][name] = {
            "unit": m["unit"], "median": med, "q1": q1, "q3": q3,
            "spread": spread, "bound": m["bound"],
            "within_third_of_bound": spread < m["bound"] / 3}
    if "--json" in sys.argv:
        print(json.dumps(out, indent=1))
        return
    print(f"{workload}: {len(runs)} runs, correct={out['correct']} "
          f"failed={out['failed']}")
    for name, v in out["metrics"].items():
        flag = "" if name == "setup_s" or v["within_third_of_bound"] else "  <-- wide"
        print(f"  {name:12s} median {v['median']:12.4f} {v['unit']:4s} "
              f"q1 {v['q1']:12.4f} q3 {v['q3']:12.4f} spread {v['spread']:.3f} "
              f"bound {v['bound']}{flag}")


if __name__ == "__main__":
    main()
