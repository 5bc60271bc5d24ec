#!/usr/bin/env python3
"""Runs the benchmark on one workload for several seeds and reports, per
metric, the median, the quartiles and the spread (interquartile distance
over the median), as `statistics.quantiles(values, n=4)` gives them.

    python3 perfbench/steady.py --workload <name> --seeds 1-10 --seconds 10 \
        [--out perfbench/baseline/<file>.json]

The runs are untraced (`--trace 0`), so the metrics are the end-to-end ones.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan"), "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in seeds_of(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", args.seconds, "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res["seed"], res["run_s"] = seed, time.time() - t0
        runs.append(res)
        print(f"seed {seed}: {res['run_s']:.1f} s correct={res['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    names = list(runs[0]["metrics"])
    table = {k: spread([r["metrics"][k]["value"] for r in runs]) for k in names}
    for k, v in table.items():
        print(f"{k:36s} median {v['median']:.5g}  q1 {v['q1']:.5g}  q3 {v['q3']:.5g}  "
              f"spread {v['spread']:.4f}")
    record = {"workload": args.workload, "seconds": args.seconds, "trace": "0",
              "seeds": seeds_of(args.seeds), "all_correct": all(r["correct"] for r in runs),
              "run_wall_s": spread([r["run_s"] for r in runs]), "metrics": table,
              "units": {k: runs[0]["metrics"][k]["unit"] for k in names}}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)


if __name__ == "__main__":
    main()
