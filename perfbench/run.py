#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload pip_kernel --seed 1 --seconds 10 --trace 0

Builds the program and the JVM harness from this checkout (sbt, once per
source change), generates the workload's inputs from the seed, runs one
JVM in local[nproc], checks every output against a reference computed by
DuckDB outside graft's code, and prints the metrics. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. See perfbench/README.md.

    python3 perfbench/run.py --self-test

injects one throwing call and one wrong expected result into a short run
and exits 0 only if both are counted as failed.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")

# Inputs per workload. Sizes keep one pass near a second on 4 cores; see
# README.md for why each workload exists.
WORKLOADS = {
    "geo": dict(geo=dict(orders=5000, window=30, parts=1200, docs=True)),
    "text_commit": dict(text=dict(docs=1500), geo=dict(orders=10000, window=100)),
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

JVM_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target" and x != "project")
            out += [os.path.join(d, f) for f in sorted(files)]
    return out + [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classpath." + h.hexdigest()[:16])
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        jars = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    if not jars:
        raise SystemExit("no unmanagedBase (the Spark jars directory) in build.sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dperfbench.sparkJars={jars.group(1)}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                           text=True, timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (exit {p.returncode}), see {BUILD}/build.log")
    for f in os.listdir(BUILD):
        if f.startswith("classpath."):
            os.remove(os.path.join(BUILD, f))
    with open(stamp, "w") as fh:
        fh.write(lines[-1])
    log(f"built in {time.time() - t0:.1f}s")
    return lines[-1]


def make_inputs(spec, seed, in_dir, cpus):
    if "geo" in spec:
        g = spec["geo"]
        # one docs file per core, so the kernel's scan runs on every core
        gen.gen_geo(in_dir, seed, g["orders"], g["window"], g.get("parts", 0),
                    cpus if g.get("docs") else 0)
    if "text" in spec:
        gen.gen_text(in_dir, seed, spec["text"]["docs"])


def run_jvm(cp, args, run_dir):
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"JVM run exceeded {JVM_TIMEOUT_S}s, see {run_dir}/jvm.log")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"JVM run failed (exit {rc}), see {run_dir}/jvm.log")


def summarize(rec, failed_ops, trace):
    """Turn the JVM's per-pass record into the metrics. An op that threw or
    whose result did not match counts as failed, and a pass holding a failed
    op is left out of every timing; when no pass is left, the timings are
    None (no measurement), never 0."""
    attempted = failed = 0
    walls, cpus_s, kernel_walls, commit_walls = [], [], [], []
    for p in rec["passes"]:
        ok_pass = True
        for op in p["ops"]:
            attempted += 1
            if not op["ok"] or op["name"] in failed_ops:
                failed += 1
                ok_pass = False
        if ok_pass:
            walls.append(sum(op["wall_s"] for op in p["ops"]))
            cpus_s.append(sum(op["cpu_s"] for op in p["ops"]))
            kernel_walls += [op["wall_s"] for op in p["ops"] if op["name"] == "kernel"]
            commit_walls.append(sum(op["wall_s"] for op in p["ops"] if op["name"].startswith("commit")))

    def med(xs):
        return statistics.median(xs) if xs else None

    def per(n, xs):
        return n / med(xs) if xs else None

    report = {
        "wall_s": med(walls),
        "task_cpu_s": med(cpus_s),
        "setup_s": med(rec["setup_rounds_s"]),
        "peak_heap_mb": max(p["heap_mb"] for p in rec["passes"]),
    }
    units = rec["units"]
    if "docs" in units:
        report["docs_per_sec"] = per(units["docs"], kernel_walls)
    if "rows" in units:
        report["commit_rows_per_sec"] = per(units["rows"], commit_walls)
    report["failed_frac"] = failed / attempted if attempted else 1.0
    layers = {}
    if trace:
        layers = dict(rec["layers"])
        if walls:
            layers["trace.overhead_s"] = layers["trace.wall_s"] - med(walls)
        # a layer this workload does not run reads 0
        metrics = {k: layers.get(k, 0.0) for k in UNITS["per_layer"]}
    else:
        metrics = {k: report[k] for k in UNITS["end_to_end"]}
    return attempted, failed, walls, report, layers, metrics


def _units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {k: {m["name"]: m["unit"] for m in b[k]} for k in ("end_to_end", "per_layer")}


UNITS = _units()
REPORT_UNITS = {"wall_s": "s", "task_cpu_s": "s", "docs_per_sec": "docs/s",
                "commit_rows_per_sec": "rows/s", "failed_frac": "fraction"}


def unit_of(name):
    """Unit of a metric: BENCHMARK.json's, else (report-only names) by suffix."""
    for table in (UNITS["end_to_end"], UNITS["per_layer"], REPORT_UNITS):
        if name in table:
            return table[name]
    return "fraction" if name.endswith(("_share", "_frac")) else "s" if name.endswith("_s") else "count"


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def one_run(args, inject=False):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graft sources not found next to perfbench/ (src/main/scala/graft)")
    cp = build()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = os.path.join(run_dir, "input")
    spec = WORKLOADS[args.workload]
    cpus = args.cpus or os.cpu_count()
    t0 = time.time()
    make_inputs(spec, args.seed, in_dir, cpus)
    t1 = time.time()
    out = os.path.join(run_dir, "record.json")
    jargs = ["--workload", args.workload, "--input", in_dir, "--work", os.path.join(run_dir, "work"),
             "--seconds", str(args.seconds), "--trace", str(args.trace), "--seed", str(args.seed),
             "--cpus", str(cpus), "--inject", "1" if inject else "0", "--out", out]
    run_jvm(cp, jargs, run_dir)
    t2 = time.time()
    with open(out) as fh:
        rec = json.load(fh)
    mismatches = check.check(rec, in_dir)
    log(f"inputs {t1 - t0:.1f}s, jvm {t2 - t1:.1f}s, check {time.time() - t2:.1f}s")
    attempted, failed, walls, report, layers, metrics = summarize(rec, set(mismatches), args.trace)
    sizes = gen.table_rows(in_dir)
    info = {"workload": args.workload, "seed": args.seed, "cpus": cpus, "nproc": os.cpu_count(),
            "inputs": sizes, "passes": len(rec["passes"]), "timed_passes": len(walls),
            "jvm_start_s": rec["jvm_start_s"]}
    print(json.dumps(info))
    for k, v in report.items():
        print(f"{args.workload:14s} {k:40s} {fmt(v):>14s} {unit_of(k):8s} n={len(walls)}")
    for k in sorted(layers):
        print(f"{args.workload:14s} {k:40s} {fmt(layers[k]):>14s} {unit_of(k):8s} traced")
    for name, why in mismatches.items():
        print(f"{args.workload:14s} MISMATCH {name}: {why}")
    for p in rec["passes"]:
        for op in p["ops"]:
            if not op["ok"]:
                print(f"{args.workload:14s} FAILED {op['name']}: {op['error']}")
    # keep the last run of each workload (trace, plans, logs); drop the rest
    last = os.path.join(BUILD, "last", args.workload)
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(os.path.dirname(last), exist_ok=True)
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "work", "setup"), ignore_errors=True)
    shutil.move(run_dir, last)
    result = {"correct": failed == 0 and not mismatches, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}
    return result, rec, mismatches


def self_test(args):
    args.workload, args.seconds, args.trace = "text_commit", 1, 0
    result, rec, mismatches = one_run(args, inject=True)
    failed = {op["name"] for p in rec["passes"] for op in p["ops"] if not op["ok"]}
    first = rec["passes"][0]["ops"][0]["name"]
    ok = ("inject_throw" in failed and first in failed and not result["correct"]
          and result["failed"] >= 2 * len(rec["passes"]))
    print(f"self-test: throwing call counted={'inject_throw' in failed}, "
          f"wrong expected result counted={first in failed}, "
          f"failed={result['failed']}/{result['attempted']}")
    if not ok:
        raise SystemExit("self-test FAILED")
    print("self-test ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="geo", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=0, help="local[N] (default: nproc)")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        return self_test(args)
    result, _, _ = one_run(args)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
