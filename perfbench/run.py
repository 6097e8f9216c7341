#!/usr/bin/env python3
"""The graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the harness
from source (sbt; the first run of a checkout compiles, later runs reuse
the build while the sources are unchanged), generates the seeded inputs,
runs the workload in one JVM on Spark local[nproc], checks every output
outside the timed region, and prints human-readable lines followed by one
JSON result line. `--trace 0` reports the end-to-end metrics, `--trace 1`
the per-layer metrics. Everything it writes goes under `.bench_build/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import agent  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build")

# per workload: the generated datasets it reads (gen.py); the passes
# themselves are defined in Workloads.scala
WORKLOADS = {"agent_session": ["base"], "batch": ["base", "amplified"]}
JVM_TIMEOUT_S = 150
FAILED_LATENCY_S = 1e6
BUILD_TIMEOUT_S = 840
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def refuse_graft_confs():
    """Every adaptive knob must run at its default: refuse any spark.graft.*
    setting that could reach the JVM through the environment."""
    for k, v in os.environ.items():
        if "spark.graft." in k or "spark.graft." in v:
            raise SystemExit(f"refusing to run: {k} sets a spark.graft.* conf")


def source_stamp():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the harness; returns the runtime classpath."""
    for need in [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")]:
        if not os.path.exists(need):
            raise SystemExit(f"cannot build: {need} is missing (run from a full checkout)")
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building the library and the harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]:
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (exit {p.returncode})")
    cp = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")][-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def datasets(kinds, seed):
    dirs, manifests = {}, {}
    for kind in kinds:
        dirs[kind] = os.path.join(OUT, "data", f"{kind}-seed{seed}")
        manifests[kind] = gen.generate(dirs[kind], seed, kind)
    return dirs, manifests


def run_jvm(cp, workload, dirs, seconds, trace, run_dir, script_path):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "jvm.json")
    cmd = (["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-cp", cp, "graftbench.Main",
        "--workload", workload, "--seconds", str(seconds), "--trace", str(trace), "--out", out]
        + [x for k, d in dirs.items() for x in ("--data", f"{k}={d}")]
        + (["--script", script_path] if script_path else []))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s; see {run_dir}/jvm.log")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    with open(out) as f:
        res = json.load(f)
    with open(out + ".results.jsonl") as f:
        res["results"] = {r["key"]: r for r in map(json.loads, f)}
    return res


def summarize(workload, res, failures, trace):
    """The metrics of one run: end-to-end from an untraced run, per-layer
    from a traced one."""
    passes = res["passes"]
    calls = res["calls"]
    if not trace:
        lat = [c["latency_s"] if c["ok"] and not failures.get(c["key"]) else float("inf") for c in calls]
        if workload == "agent_session":
            p50 = layers.percentile(lat, 0.5)
            p90 = layers.percentile(lat, 0.9, min_beyond=10)
        else:
            # batch passes run each operation once: per operation, the median
            # over passes; then the percentiles across operations
            per_op = {}
            for c, x in zip(calls, lat):
                per_op.setdefault(c["key"], []).append(x)
            meds = [statistics.median(v) for v in per_op.values()]
            p50, p90 = layers.percentile(meds, 0.5), layers.percentile(meds, 0.9)
        # a failed call misses every limit; JSON has no infinity, so it is
        # reported as a sentinel no real call reaches
        p50, p90 = (min(x, FAILED_LATENCY_S) for x in (p50, p90))
        return {
            "setup_s": (res["setup_s"], "s"),
            "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
            "heap_live_peak_mb": (res["heap_mb"], "MB"),
            "call_p50_s": (p50, "s"),
            "call_p90_s": (p90, "s"),
        }
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    per = layers.layer_metrics(res["spans"], res["span_stats"], n_passes=len(traced))
    for c in calls:
        if c["traced"] and (not c["ok"] or failures.get(c["key"])) and c["layer"] in per:
            per[c["layer"]]["failed"] += 1 / max(1, len(traced))
    values = {f"{layer}.{m}": v for layer, ms in per.items() for m, v in ms.items()}
    mh = res["results"].get("minhash_pairs", {}).get("value")
    values["operators.dedup.candidate_yield"] = (
        len(mh["pairs"]) / mh["candidates"] if mh and mh["candidates"] else 0.0)
    values["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                                  - statistics.median(p["wall_s"] for p in untraced))
    return {name: (values[name], unit) for name, unit in layers.metric_names()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    refuse_graft_confs()
    cp = build()
    dirs, manifests = datasets(WORKLOADS[args.workload], args.seed)
    run_dir = os.path.join(OUT, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    script_path = None
    if args.workload == "agent_session":
        script_path = os.path.join(run_dir, "script.json")
        with open(script_path, "w") as f:
            json.dump(agent.script(args.seed), f)

    t0 = time.time()
    res = run_jvm(cp, args.workload, dirs, args.seconds, args.trace, run_dir, script_path)
    t1 = time.time()
    failures = check.check_results(res["results"], dirs, manifests, os.path.join(run_dir, "tmp"))
    log(f"jvm {t1 - t0:.1f}s, checks {time.time() - t1:.1f}s")
    digests = {k: r["digest"] for k, r in res["results"].items()}
    attempted = len(res["calls"])
    failed_calls = [c for c in res["calls"]
                    if not c["ok"] or failures.get(c["key"]) or c["digest"] != digests.get(c["key"])]
    failed = len(failed_calls)
    bad_guards = [g for g in res["guards"] if not g["ok"]]
    metrics = summarize(args.workload, res, failures, args.trace)

    artifact = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": res["cores"],
        "inputs": {ds: {"rows": m["rows"], "fingerprint": m["fingerprint"],
                        "planted": {k: v for k, v in m["planted"].items() if k.endswith("_kinds")}}
                   for ds, m in manifests.items()},
        "guards": res["guards"], "setup_s": res["setup_s"], "setup_runs_s": res["setup_runs_s"],
        "phases_s": res["phases_s"], "warmup_walls_s": res["warmup_walls_s"],
        "heap_by_op_mb": res["heap_by_op_mb"],
        "passes": res["passes"],
        "failed_frac": failed / attempted,
        "failures": {k: v for k, v in failures.items() if v},
        "failed_calls": [{"key": c["key"], "pass": c["pass"], "error": c["error"]} for c in failed_calls],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    if args.trace:
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump({"spans": res["spans"], "span_stats": res["span_stats"]}, f)

    for ds, m in manifests.items():
        print(f"input {ds}: " + ", ".join(f"{t}={n}" for t, n in m["rows"].items())
              + f" fingerprint={m['fingerprint'][:16]}")
    for g in res["guards"]:
        side = ">" if g["above"] else "<="
        print(f"guard {g['op']}: {g['table']} rows {g['rows']} {side} {g['threshold']} {g['value']}: "
              + ("ok" if g["ok"] else "VIOLATED"))
    for k, v in failures.items():
        if v:
            print(f"MISMATCH {k}: {v}")
    print(f"passes {len(res['passes'])}, operations {attempted}, failed {failed}, "
          f"failed_frac {failed / attempted:.4f}")
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(f"artifact: {os.path.relpath(os.path.join(run_dir, 'artifact.json'), ROOT)}")
    correct = failed == 0 and not bad_guards
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
