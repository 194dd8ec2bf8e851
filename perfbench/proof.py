#!/usr/bin/env python3
"""Steadiness proof: run every workload on N seeds (untraced) and report, per
end-to-end metric, the median and the inter-quartile spread as a share of the
median, against the metric's bound in BENCHMARK.json.

  python3 perfbench/proof.py [--seeds 101-110] [--out perfbench/results/baseline.json]
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"seeds": [lo, hi], "run_seconds": bench["run_seconds"], "workloads": {}}
    ok = True
    for w in args.workloads.split(","):
        values, walls, bad = {}, [], 0
        for seed in range(lo, hi + 1):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True)
            walls.append(time.time() - t0)
            last = json.loads(p.stdout.strip().splitlines()[-1])
            bad += int(p.returncode != 0 or not last["correct"])
            for k, v in last["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        rows = {}
        for k, v in values.items():
            sp = M.spread(v)
            steady = k == "setup_s" or sp <= bounds[k] / 3
            ok &= steady
            rows[k] = {"median": M.median(v), "spread": sp, "bound": bounds[k],
                       "values": [round(x, 4) for x in v]}
            print(f"[proof] {w} {k}: median {M.median(v):.4f} spread {sp:.4f} "
                  f"(bound {bounds[k]}, {'ok' if steady else 'above a third of the bound'})")
        print(f"[proof] {w}: {bad} failed runs, run wall median {M.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        ok &= bad == 0
        report["workloads"][w] = {"metrics": rows, "failed_runs": bad,
                                  "run_wall_s": {"median": M.median(walls), "max": max(walls)}}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
