#!/usr/bin/env python3
"""Write the per-layer record: one traced run of each workload (and of the
every-layer `full` run), tabulated per layer and checked for closure.

  python3 perfbench/record.py [--seed 1] [--out perfbench/results]

For every layer: calls in the timed passes, median build / plan / exec,
Spark jobs, driver gap (no job running) and build self time (build minus the
jobs it ran). Per workload: traced pass_s and the sum of every op's
build + plan + exec, which must be within 5 % of it.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import run  # noqa: E402


def layer_table(res):
    spans = res["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    self_t = M.self_times(spans)
    timed = [s for s in spans if s["name"].startswith("pass") and int(s["name"][4:]) >= res["warmups"]]
    rows, closure = {}, []
    for p in timed:
        ops = [s for s in kids.get(p["id"], []) if s["name"] != "quiesce"]
        wall = sum(s["end_us"] - s["start_us"] for s in ops)
        phases = sum(k["end_us"] - k["start_us"] for s in ops for k in kids.get(s["id"], [])
                     if k["name"] in ("build", "plan", "exec"))
        closure.append((wall / 1e6, phases / 1e6))
        for s in ops:
            ph = {k["name"]: k for k in kids.get(s["id"], [])}
            jobs = [(j["start_us"], j["end_us"]) for j in M.descendants(spans, s["id"])
                    if j["name"].startswith("job")]
            r = rows.setdefault(s["name"], {k: [] for k in
                                            ("build", "plan", "exec", "jobs", "gap", "build_self")})
            for k in ("build", "plan", "exec"):
                r[k].append((ph[k]["end_us"] - ph[k]["start_us"]) / 1e3 if k in ph else 0.0)
            r["jobs"].append(len(jobs))
            r["gap"].append(M.gap((s["start_us"], s["end_us"]), jobs) / 1e3)
            r["build_self"].append(self_t[ph["build"]["id"]] / 1e3 if "build" in ph else 0.0)
    return rows, closure


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "results"))
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    lines = ["# Per-layer record (traced runs)", "",
             f"Seed {args.seed}; `python3 perfbench/record.py --seed {args.seed}`. Medians over the "
             "timed passes' calls, in ms (jobs: count). gap: call time with no Spark job "
             "running; build self: build minus the jobs it ran. Closure: the sum of every "
             "op's build + plan + exec against the traced pass_s.", ""]
    record = {}
    for w in list(run.WORKLOADS) + ["full"]:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", str(args.seed), "--seconds", "5" if w != "full" else "0",
                            "--trace", "1"], capture_output=True, text=True)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        res = json.load(open(os.path.join(run.STATE, "run", "out", "result.json")))
        rows, closure = layer_table(res)
        wall = M.median([c[0] for c in closure])
        phases = M.median([c[1] for c in closure])
        record[w] = {"correct": last["correct"], "failed": last["failed"],
                     "attempted": last["attempted"], "traced_pass_s": wall,
                     "phase_sum_s": phases, "closure": phases / wall,
                     "layers": {k: {m: M.median(v) for m, v in r.items()} for k, r in rows.items()}}
        lines += [f"## {w}", "",
                  f"correct={last['correct']}, failed {last['failed']} of {last['attempted']}; "
                  f"traced pass_s {wall:.3f} s; build+plan+exec {phases:.3f} s "
                  f"({100 * phases / wall:.2f} % of pass_s)", "",
                  "| layer | calls | build | plan | exec | jobs | gap | build self |",
                  "|---|---|---|---|---|---|---|---|"]
        for k, r in rows.items():
            lines.append(f"| {k} | {len(r['build'])} | " + " | ".join(
                f"{M.median(r[m]):.1f}" if m != "jobs" else f"{M.median(r[m]):g}"
                for m in ("build", "plan", "exec", "jobs", "gap", "build_self")) + " |")
        lines.append("")
        for k in ("plans.plan_ms", "spark.shuffle_mb", "spark.spill_mb", "spark.ckpt_mb",
                  "quiesce_s", "publish_s", "append_p50_ms", "probe_p50_ms", "space_amp",
                  "write_amp", "batch_p50_ms", "stream_rows_per_s"):
            if k in last["metrics"]:
                lines.append(f"- {k} = {last['metrics'][k]['value']:.4f} {last['metrics'][k]['unit']}")
        lines.append("")
        print(f"[record] {w}: closure {100 * phases / wall:.2f} %, correct={last['correct']}")
    with open(os.path.join(args.out, "perlayer.md"), "w") as f:
        f.write("\n".join(lines))
    with open(os.path.join(args.out, "perlayer.json"), "w") as f:
        json.dump(record, f, indent=1)
    return 0 if all(r["correct"] and abs(r["closure"] - 1) <= 0.05 for r in record.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
