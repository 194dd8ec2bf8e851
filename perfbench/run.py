#!/usr/bin/env python3
"""graft benchmark: one command per workload run, or every workload at once.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]   # every workload, all metrics
  python3 perfbench/run.py --selftest                           # metric math + fault accounting

Run from the root of a graft checkout. The first run builds the harness
(perfbench/build.sbt compiles graft's sources with the harness) and caches
the build under .perfbench/ keyed by a hash of every source file. Each run
then generates its inputs from the seed, starts one JVM on local[4], sets up
(session, input scan, one untimed warm-up pass) and measures closed-loop
passes of the workload for --seconds. Results of the warm-up pass and of the
first timed pass are compared with the DuckDB oracle. The last stdout line is
the JSON result; the exit code is 0 only when every op succeeded and every
checked result matched.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170  # the JVM is stopped if a run would exceed this
FULL_LIMIT_S = 900  # the same for the every-layer "full" record
GEN_REPS = 3       # input generation is repeated; setup_s takes the median
# untimed warm-up passes per run (the first is checked): the index workload
# has fewer calls per pass, so its JIT needs more passes to settle
WARMUPS = {"series_dedup": 2, "index_maintain": 3, "full": 1}
ARCHIVE = os.path.join(STATE, "classes.jsa")

MIB = float(1 << 20)

# Tables each workload reads (sizes are rows). The JVM harness defines the op
# sequence of each workload (perfbench/src/main/scala/graft/perfbench/Main.scala).
WORKLOADS = {
    "series_dedup": {
        "orders": {"rows": 20000, "days": 1200},
        "documents": {"rows": 600},
    },
    "index_maintain": {
        "documents": {"rows": 600},
        "embeddings": {"rows": 1000},
    },
}
# every layer once per pass, for the per-layer record (not in BENCHMARK.json)
FULL = {
    "orders": {"rows": 20000, "days": 1200},
    "documents": {"rows": 600, "stream": True},
    "embeddings": {"rows": 1000},
    "events": {"rows": 20000, "users": 400, "stream": True},
}

LAYERS = {
    "series_dedup": ["OrderedScan.forwardFill", "AsOf.join", "ChunkWhile.assign",
                     "Dedup.containmentNearDup", "Text.bm25TopTerms"],
    "index_maintain": ["Dedup.publishLshIndex", "Dedup.appendLshIndex",
                       "Dedup.probeLshIndex", "Similarity.probePqIndex"],
}
FULL_LAYERS = [
    "OrderedScan.forwardFill", "OrderedScan.rowNumber", "OrderedScan.runningSum", "AsOf.join",
    "Resample.resampleUniform", "ChunkWhile.assign", "Events.intervalCoverage", "Dedup.exact",
    "Dedup.minhashLshPortable", "Dedup.components", "Dedup.containmentNearDup",
    "Dedup.ngramContaminationLarge", "Text.bm25TopTerms", "Packing.packByTokens",
    "Dedup.publishLshIndex", "Dedup.appendLshIndex", "Dedup.compactLshIndex",
    "Dedup.recoverLshIndex", "Dedup.probeLshIndex", "Similarity.publishPqIndex",
    "Similarity.appendPqIndex", "Similarity.compactPqIndex", "Similarity.probePqIndex",
    "Streams.runNearDupKeyed", "Streams.drillStatefulRocksDb"]
BENCH_LAYERS = [l for w in LAYERS for l in LAYERS[w]]
WRITE_LAYERS = ["Dedup.publishLshIndex", "Dedup.appendLshIndex", "Dedup.compactLshIndex",
                "Similarity.publishPqIndex", "Similarity.appendPqIndex", "Similarity.compactPqIndex"]
STREAM_LAYERS = ["Streams.runNearDupKeyed", "Streams.drillStatefulRocksDb"]

END_TO_END = {"setup_s": "s", "pass_s": "s", "heap_retained_mb": "MB"}
WORKLOAD_SPECIFIC = {  # printed by every run that has them; traced as per-layer
    "publish_s": "s", "append_p50_ms": "ms", "probe_p50_ms": "ms", "probe_tail_ms": "ms",
    "space_amp": "ratio", "write_amp": "ratio",
    "batch_p50_ms": "ms", "batch_tail_ms": "ms", "stream_rows_per_s": "1/s",
}


def per_layer_names(layers):
    names = []
    for layer in layers:
        names += [f"{layer}.build_ms", f"{layer}.exec_ms", f"{layer}.jobs", f"{layer}.gap_ms"]
    names += ["plans.plan_ms", "spark.shuffle_mb", "spark.spill_mb", "spark.ckpt_mb"]
    names += [f"{l}.write_mb" for l in WRITE_LAYERS if l in layers]
    names += [f"{l}.state_commit_ms" for l in STREAM_LAYERS if l in layers]
    extra = ["publish_s", "append_p50_ms", "probe_p50_ms", "space_amp", "write_amp"]
    if any(l in layers for l in STREAM_LAYERS):
        extra += ["batch_p50_ms", "stream_rows_per_s"]
    return names + extra + ["traced.pass_s", "quiesce_s"]


def unit_of(name):
    if name in WORKLOAD_SPECIFIC:
        return WORKLOAD_SPECIFIC[name]
    if name.endswith(".jobs"):
        return "count"
    return {"ms": "ms", "mb": "MB", "s": "s"}[name.rsplit("_", 1)[-1]]


# ------------------------------------------------------------------- build

def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness with graft's sources; return the runtime classpath."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(HERE, "build.sbt"))):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    os.makedirs(STATE, exist_ok=True)
    stamp = source_stamp()
    stamp_f, cp_f = os.path.join(STATE, "build.stamp"), os.path.join(STATE, "classpath.txt")
    if os.path.exists(stamp_f) and os.path.exists(cp_f) and open(stamp_f).read() == stamp:
        return open(cp_f).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    jars = glob.glob(os.path.join(HERE, "target", "scala-2.13", "graft-perfbench_*.jar"))
    if p.returncode != 0 or not lines or len(jars) != 1:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("harness build failed")
    # a class-data-sharing archive needs every class path entry to be a jar
    cp = ":".join(jars + [e for e in lines[-1].split(":") if e.endswith(".jar")])
    record_class_archive(cp)
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cp


def record_class_archive(cp):
    """Dump the classes one warm-up pass of every layer loads into a CDS
    archive, so each run's JVM maps them instead of loading and verifying
    ~20k classes again. Recorded once per build, from tiny inputs."""
    work = os.path.join(STATE, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    tiny = {"orders": {"rows": 500, "days": 60}, "documents": {"rows": 80, "stream": True},
            "embeddings": {"rows": 120}, "events": {"rows": 400, "users": 20, "stream": True}}
    gen.generate(1, tiny, os.path.join(work, "in"))
    os.makedirs(os.path.join(work, "out"))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    code, _ = run_jvm(cp, "full", os.path.join(work, "in"), os.path.join(work, "jvm"),
                      os.path.join(work, "out"), -1, 0, None, time.time() + 600,
                      warmups=1, archive_flag=f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    if code != 0 or not os.path.exists(ARCHIVE):
        print(jvm_log_tail(os.path.join(work, "jvm")), file=sys.stderr)
        fail("recording the class archive failed")
    shutil.rmtree(work)


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


# ---------------------------------------------------------------------- run

def run_jvm(cp, workload, in_dir, work, out, seconds, trace, fault, deadline,
            warmups=None, archive_flag=None):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, "-Xmx3g",
           archive_flag or f"-XX:SharedArchiveFile={ARCHIVE}",
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off", f"-Djava.io.tmpdir={tmp}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    cmd += ["-cp", cp, "graft.perfbench.Main", workload, in_dir, work, out,
            str(seconds), str(trace), fault or "none", str(WARMUPS[workload] if warmups is None else warmups)]
    log = open(os.path.join(work, "jvm.log"), "w")
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        log.close()
    return proc.returncode, t0


def jvm_log_tail(work, n=30):
    try:
        lines = open(os.path.join(work, "jvm.log")).read().splitlines()
    except OSError:
        return ""
    keep = [l for l in lines if "[perfbench]" in l or "Exception" in l or "Error" in l]
    return "\n".join((keep or lines)[-n:])


def check_results(res, in_dir, out, fp_key):
    """Compare every checked op result with the oracle; return mismatches."""
    cache = os.path.join(STATE, "oracle", fp_key)
    os.makedirs(cache, exist_ok=True)
    con = oracle.connect(in_dir)
    bad, warm_rows = [], {}
    for op in res["ops"]:
        if not op["checked"]:
            continue
        tag = f"p{op['pass']}/{op['i']:02d}"
        got = oracle.read_result(os.path.join(out, "check", tag))
        try:
            why = "no result files" if got is None else oracle.compare(
                got, oracle.expected(con, op["check"], res["oracle_sql"], cache))
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {e}"
        if why:
            bad.append((op, why))
        else:
            warm_rows[op["i"]] = len(got)
    con.close()
    # timed passes are not re-compared with the oracle; their row counts
    # must equal those of the checked warm-up pass
    for op in res["ops"]:
        if op["pass"] >= 1 and op["i"] in warm_rows and op["rows"] != warm_rows[op["i"]]:
            bad.append((op, f"{op['rows']} rows, the checked warm-up pass had {warm_rows[op['i']]}"))
    return bad


def index_user_bytes(in_dir):
    """Bytes of the text (LSH) and vectors (PQ) the index ops publish or append."""
    con = oracle.connect(in_dir)
    text = con.execute("SELECT coalesce(sum(strlen(text)), 0) FROM documents "
                       "WHERE doc_id % 7 <> 0").fetchone()[0]
    vec = con.execute("SELECT coalesce(sum(len(embedding)) * 4, 0) FROM embeddings").fetchone()[0]
    con.close()
    return float(text), float(vec)


def stream_rows(in_dir):
    con = oracle.connect(in_dir)
    n = sum(con.execute(f"SELECT count(*) FROM read_parquet('{os.path.join(in_dir, d, '*.parquet')}')")
            .fetchone()[0] for d in ("stream_docs", "stream_events"))
    con.close()
    return n


def summarize(res, setup_s, in_dir, trace, layers):
    """End-to-end metrics, the workload's own ones, and (traced) per-layer ones."""
    timed = [p for p in res["passes"] if p["pass"] >= res["warmups"]]
    ok = [p for p in timed if p["failed"] == 0]
    ops = [o for o in res["ops"] if o["pass"] >= res["warmups"]]
    good = [o for o in ops if o["error"] is None]
    e2e = {"setup_s": setup_s,
           "pass_s": M.median([p["op_s"] for p in ok]) if ok else None,
           "heap_retained_mb": M.median([p["heap_retained_mb"] for p in timed])}

    def walls(*names):
        return [o["wall_ms"] for o in good if o["layer"] in names]

    def per_pass_sum(names, key):
        sums = {}
        for o in good:
            if o["layer"] in names:
                sums[o["pass"]] = sums.get(o["pass"], 0.0) + key(o)
        return list(sums.values())

    spec = {}
    if any("Index" in l for l in layers):
        text_b, vec_b = index_user_bytes(in_dir)
        probes = walls("Dedup.probeLshIndex", "Similarity.probePqIndex")
        _, tail_v, _ = M.tail(probes)
        spec.update({
            "publish_s": M.median([p["publish_s"] for p in ok]),
            "append_p50_ms": M.median(walls("Dedup.appendLshIndex", "Similarity.appendPqIndex")),
            "probe_p50_ms": M.median(probes), "probe_tail_ms": tail_v,
            "space_amp": M.median([p["index_bytes"] for p in timed]) / (text_b + vec_b)})
        if trace:
            # user bytes a pass publishes or appends: the LSH text, plus the
            # vectors when the pass maintains the PQ index too
            user = (text_b if "Dedup.publishLshIndex" in layers else 0.0) + \
                   (vec_b if "Similarity.publishPqIndex" in layers else 0.0)
            written = per_pass_sum(WRITE_LAYERS, lambda o: o["attrs"].get("write_bytes", 0.0))
            spec["write_amp"] = M.median(written) / user if user else None
    if any(l in layers for l in STREAM_LAYERS):
        batches = [v for o in good if o["layer"] == "Streams.runNearDupKeyed"
                   for k, v in o["extras"].items() if k.startswith("batch_ms_")]
        rows = stream_rows(in_dir)
        spec.update({"batch_p50_ms": M.median(batches), "batch_tail_ms": M.tail(batches)[1],
                     "stream_rows_per_s": M.median(
                         [rows / s for s in per_pass_sum(STREAM_LAYERS, lambda o: o["wall_ms"] / 1e3)])})
    if not trace:
        return e2e, spec, {}

    spans = res["spans"]
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    timed_pass_ids = [sp["id"] for sp in spans
                      if sp["name"].startswith("pass") and int(sp["name"][4:]) >= res["warmups"]]
    op_spans = [sp for pid in timed_pass_ids for sp in kids.get(pid, []) if sp["name"] != "quiesce"]
    layer = {}
    for name in layers:
        rows = {"build_ms": [], "exec_ms": [], "jobs": [], "gap_ms": []}
        for sp in (x for x in op_spans if x["name"] == name):
            phase = {k["name"]: (k["end_us"] - k["start_us"]) / 1e3 for k in kids.get(sp["id"], [])}
            jobs = [(j["start_us"], j["end_us"]) for j in M.descendants(spans, sp["id"])
                    if j["name"].startswith("job")]
            rows["build_ms"].append(phase.get("build", 0.0))
            rows["exec_ms"].append(phase.get("exec", 0.0))
            rows["jobs"].append(len(jobs))
            rows["gap_ms"].append(M.gap((sp["start_us"], sp["end_us"]), jobs) / 1e3)
        for k, v in rows.items():
            layer[f"{name}.{k}"] = M.median(v)
    plan, shuffle, spill, ckpt = [], [], [], []
    for pid in timed_pass_ids:
        ops_in = [sp for sp in kids.get(pid, []) if sp["name"] != "quiesce"]
        plan.append(sum((k["end_us"] - k["start_us"]) / 1e3 for sp in ops_in
                        for k in kids.get(sp["id"], []) if k["name"] == "plan"))
        shuffle.append(sum(sp["attrs"].get("shuffle_bytes", 0) for sp in ops_in) / MIB)
        spill.append(sum(sp["attrs"].get("spill_bytes", 0) for sp in ops_in) / MIB)
        ckpt.append(max([sp["attrs"].get("ckpt_bytes", 0) for sp in ops_in] or [0]) / MIB)
    layer.update({"plans.plan_ms": M.median(plan), "spark.shuffle_mb": M.median(shuffle),
                  "spark.spill_mb": M.median(spill), "spark.ckpt_mb": M.median(ckpt)})
    for l in STREAM_LAYERS:
        layer[f"{l}.state_commit_ms"] = M.median(
            [o["extras"].get("state_commit_ms", 0.0) for o in good if o["layer"] == l])
    for l in WRITE_LAYERS:
        layer[f"{l}.write_mb"] = M.median(
            [o["attrs"].get("write_bytes", 0.0) / MIB for o in good if o["layer"] == l])
    layer.update({k: v for k, v in spec.items() if v is not None})
    layer["traced.pass_s"] = e2e["pass_s"] or 0.0
    layer["quiesce_s"] = M.median([p["quiesce_s"] for p in timed])
    return e2e, spec, layer


def one_run(args, cp, run_start):
    work = os.path.join(STATE, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = FULL if args.workload == "full" else WORKLOADS[args.workload]
    layers = FULL_LAYERS if args.workload == "full" else LAYERS[args.workload]
    gen_times, fps = [], []
    for r in range(GEN_REPS):
        d = os.path.join(work, f"in{r}")
        t0 = time.perf_counter()
        fps.append(gen.generate(args.seed, spec, d))
        gen_times.append(time.perf_counter() - t0)
    in_dir = os.path.join(work, "in0")
    for r in range(1, GEN_REPS):
        shutil.rmtree(os.path.join(work, f"in{r}"))
    problems = []
    if any(fp != fps[0] for fp in fps):
        problems.append("input generation is not deterministic for this seed")
    fp_key = hashlib.sha256(json.dumps([args.workload, fps[0]], sort_keys=True).encode()).hexdigest()[:16]

    out = os.path.join(work, "out")
    os.makedirs(out)
    limit = FULL_LIMIT_S if args.workload == "full" else RUN_LIMIT_S
    code, t_launch = run_jvm(cp, args.workload, in_dir, os.path.join(work, "jvm"), out,
                             args.seconds, args.trace, args.fault, run_start + limit)
    res_f = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(res_f):
        print(jvm_log_tail(os.path.join(work, "jvm")), file=sys.stderr)
        fail(f"harness JVM exited with {code}", 1)
    res = json.load(open(res_f))
    setup_s = statistics.median(gen_times) + (res["setup_end_us"] / 1e6 - t_launch)

    t_jvm_end = time.time()
    bad = check_results(res, in_dir, out, fp_key)
    checked = sum(1 for o in res["ops"] if o["checked"])
    print(f"[perfbench] wall: generate {sum(gen_times):.1f} s, jvm {t_jvm_end - t_launch:.1f} s, "
          f"oracle {time.time() - t_jvm_end:.1f} s; {checked - len(bad)} of {checked} "
          f"checked results match the oracle", file=sys.stderr)
    for op, why in bad:
        problems.append(f"{op['layer']} (pass {op['pass']}, {op['check']}): {why}")
    for op in res["ops"]:
        if op["error"]:
            problems.append(f"{op['layer']} (pass {op['pass']}) threw: {op['error']}")
    attempted = len(res["ops"])
    failed = len({(o["pass"], o["i"]) for o in res["ops"] if o["error"]}
                 | {(o["pass"], o["i"]) for o, _ in bad})
    e2e, spec, layer = summarize(res, setup_s, in_dir, args.trace, layers)
    if args.trace:
        names = per_layer_names(FULL_LAYERS if args.workload == "full" else BENCH_LAYERS)
        layer = {k: layer.get(k, 0.0) for k in names}
    if e2e["pass_s"] is None:
        problems.append("no timed pass completed without a failure")
    return {"res": res, "fps": fps[0], "e2e": e2e, "spec": spec, "layer": layer,
            "attempted": attempted, "failed": failed, "problems": problems}


def fmt(v):
    return "n/a" if v is None else (f"{v:.4f}" if isinstance(v, float) else str(v))


def report(workload, seed, r, trace):
    res = r["res"]
    print(f"[perfbench] workload={workload} seed={seed} trace={trace} "
          f"timed_passes={len(res['passes']) - res['warmups']} measured_s={res['measured_s']:.2f}")
    print(f"[perfbench] inputs: " + ", ".join(
        f"{t} rows={v['rows']} hash={v['hash']}" for t, v in r["fps"].items()))
    print(f"[perfbench] fail_frac = {r['failed'] / max(1, r['attempted']):.4f} "
          f"({r['failed']} of {r['attempted']} ops)")
    for k, v in list(r["e2e"].items()) + list(r["spec"].items()):
        print(f"[perfbench] {k} = {fmt(v)} {END_TO_END.get(k) or WORKLOAD_SPECIFIC.get(k)}")
    for p in r["problems"]:
        print(f"[perfbench] FAIL {p}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS) + ["full"],
                    help='"full" runs every layer once per pass (per-layer record, not in BENCHMARK.json)')
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", default=None, help="inject a throw into this layer's op wrapper")
    ap.add_argument("--all", action="store_true", help="run every workload and print every metric")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import test_metrics
        sys.exit(test_metrics.main())
    cp = build()
    if args.all:
        bad = False
        for w in WORKLOADS:
            args.workload = w
            r = one_run(args, cp, time.time())
            report(w, args.seed, r, args.trace)
            bad |= bool(r["problems"])
        sys.exit(1 if bad else 0)
    if not args.workload:
        fail("--workload is required")
    r = one_run(args, cp, time.time())  # the run limit starts after the (cached) build
    report(args.workload, args.seed, r, args.trace)
    correct = not r["problems"]
    wanted = r["layer"] if args.trace else r["e2e"]
    out = {"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
           "metrics": {k: {"value": (v if v is not None else -1.0),
                           "unit": END_TO_END.get(k) or unit_of(k)} for k, v in wanted.items()}}
    print(json.dumps(out))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
