#!/usr/bin/env python3
"""Lakehouse benchmark: closed-loop workloads over the graft.lake API.

One run:
    python3 perfbench/run.py --workload olap_scan --seed 1 --seconds 12 --trace 0

builds the program from source (first run only), runs one workload on a
fresh lake made from seeded inputs, checks every result, writes a full
artifact under .bench_build/perfbench/results/ and prints one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.

Every workload, untraced and traced, with the per-layer summary, the
tracing overhead and the same-seed counter repeat check:
    python3 perfbench/run.py --all --seed 1 --seconds 12

Run from the root of a checkout of the repository.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["olap_scan", "dml_churn"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# per-op counters the repeat check compares between two same-seed traced runs
REPEAT_COUNTERS = ["jobs", "stages", "tasks", "files_total", "files_kept",
                   "files_added", "delete_files_added"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources():
    pats = ["src/main/scala/**/*.scala", "perfbench/src/**/*.scala", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    files = sorted({f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)})
    return [f for f in files if os.path.isfile(f)]


def tree_id(files):
    """content hash of everything the build compiles: names the program
    version in artifact names (the checkout need not be a git repository)"""
    h = hashlib.sha1()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()[:12]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark distribution (set SPARK_HOME)")
    return home


def build(tree):
    """compile the program and the benchmark once per source tree; returns
    the runtime classpath"""
    stamp = os.path.join(BUILD, "classpath." + tree)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    if shutil.which("sbt") is None:
        sys.exit("perfbench: sbt not found")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    # the user's repository list (offline mirrors); sbt would otherwise look
    # for it under the relocated global base below
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in env["SBT_OPTS"] and os.path.isfile(repos):
        env["SBT_OPTS"] += " -Dsbt.repository.config=" + repos
    # keep sbt's own state inside the checkout
    env["SBT_OPTS"] += " -XX:-UsePerfData -Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")
    log("building (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.exit(f"perfbench: build failed ({p.returncode})")
    with open(os.path.join(HERE, "target", "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(stamp, "w") as fh:
        fh.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_one(workload, seed, seconds, trace, cp, tree):
    cpus = min(4, os.cpu_count() or 1)
    work = os.path.join(BUILD, "work", workload)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime()) + f"-{os.getpid()}"
    out = os.path.join(results,
                       f"{workload}_seed{seed}_cpus{cpus}_{tree}_trace{trace}_{stamp}.json")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus),
              "--work", work, "--out", out, "--tree", tree])
    try:
        # SPARK_LOCAL_DIRS would override spark.local.dir: keep Spark's
        # scratch files inside the run's work directory
        p = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=RUN_TIMEOUT_S,
                           env=dict(os.environ, SPARK_HOME=spark_home(),
                                    SPARK_LOCAL_DIRS=os.path.join(work, "spark-local")))
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {workload} did not finish in {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: {workload} failed ({p.returncode})")
    with open(out) as fh:
        art = json.load(fh)
    art["path"] = out
    return art


def repeat_diff(a, b):
    """per-op counters that differ between two same-seed traced runs,
    compared over the ops both runs completed"""
    ops_a = {o["op"]: o for o in a["per_op"]}
    differ = {}
    for o in b["per_op"]:
        x = ops_a.get(o["op"])
        if x is None or x["kind"] != o["kind"]:
            continue
        for c in REPEAT_COUNTERS:
            if x[c] != o[c]:
                differ.setdefault(c, []).append(o["op"])
    return differ


def run_all(seed, seconds, cp, tree):
    for w in WORKLOADS:
        plain = run_one(w, seed, seconds, 0, cp, tree)
        traced = [run_one(w, seed, seconds, 1, cp, tree) for _ in range(2)]
        print(f"\n== {w} (seed {seed}, {seconds} s, closed loop, 1 client)")
        print(f"correct={plain['result']['correct']} attempted={plain['result']['attempted']} "
              f"failed={plain['result']['failed']} failed_share={plain['failed_share']:.4f}")
        for k, m in sorted(plain["end_to_end"].items()):
            print(f"  {k:24s} {m['value']:14.4f} {m['unit']}")
        t = plain["tail"]
        print(f"  (op_ms_tail is p{t['percentile']:.1f} of {t['samples']} ops)")
        print("  op latency by kind: " + ", ".join(
            f"{k} {v['ms_p50']:.1f} ms x{v['count']}" for k, v in sorted(plain["ops_by_kind"].items())))
        overhead = traced[0]["per_layer_metrics"]["trace.op_ms_p50"]["value"] - \
            plain["end_to_end"]["op_ms_p50"]["value"]
        print(f"  tracing overhead (traced - untraced op_ms_p50): {overhead:.3f} ms")
        print(f"  cold open (meta.open_ms, traced run): "
              f"{traced[0]['per_layer_metrics']['meta.open_ms']['value']:.1f} ms")
        print("  layer self time and calls (traced run):")
        for name, l in sorted(traced[0]["layers"].items(), key=lambda kv: -kv[1]["self_ms"]):
            print(f"    {name:18s} calls={l['calls']:6d} self_ms/op={l['self_ms_per_op']:9.3f} "
                  f"jobs={l.get('jobs', 0):6.0f} tasks={l.get('tasks', 0):7.0f}")
        diff = repeat_diff(*traced)
        print("  per-op counters repeat across two same-seed traced runs: " +
              ("yes" if not diff else
               "NO, differing: " + ", ".join(f"{c} (ops {v[:5]})" for c, v in diff.items())))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="every workload, with the trace summary")
    a = ap.parse_args()
    if not a.all and a.workload is None:
        ap.error("--workload or --all is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no program sources next to perfbench/ (run from a checkout)")
    files = sources()
    tree = tree_id(files)
    cp = build(tree)
    if a.all:
        run_all(a.seed, a.seconds, cp, tree)
        return
    art = run_one(a.workload, a.seed, a.seconds, a.trace, cp, tree)
    log(f"artifact: {art['path']}")
    for k, m in sorted(art["result"]["metrics"].items()):
        log(f"{k} = {m['value']} {m['unit']}")
    print(json.dumps(art["result"]))


if __name__ == "__main__":
    main()
