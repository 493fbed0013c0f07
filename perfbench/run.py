#!/usr/bin/env python3
"""graft's standing benchmark: build, run one workload, print the result.

Run from the repository root:

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Workloads: migrate, lake_crud, ann_serve, curate_batch (see
perfbench/README.md). The first run builds graft's main sources
together with the benchmark's own through perfbench/build.sbt (sbt's
own state goes to .bench_build/); later runs reuse the classes and the
classpath while no source changed. Each run is one JVM. It prints
every metric by name, writes the full result (environment stamp
included) to .bench_out/, and prints as its last stdout line the JSON
object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ["migrate", "lake_crud", "ann_serve", "curate_batch"]
# one held-out seed, kept out of tuning, for checking later claims
HELD_OUT_SEED = 7919
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# a fixed heap with a fixed young generation keeps the peak RSS a
# property of the workload rather than of heap-resizing decisions
JAVA_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC", "-Xss8m",
    "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [opt for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for opt in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def data_dir():
    """The sf0.1 tables, the bench scale of TESTDATA.md: wherever
    graft.Bench reads them, SPARK_GRAFT_SF_DIR or its default."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    with open(os.path.join(GRAFT_SRC, "graft", "Bench.scala")) as f:
        m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
    if not m:
        fail("graft.Bench names no default SPARK_GRAFT_SF_DIR")
    return m.group(1)


def build_inputs():
    """Every file the build reads from the checkout: graft's and the
    benchmark's main sources and the benchmark's build definition."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (GRAFT_SRC, BENCH_SRC):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark through perfbench/build.sbt unless
    nothing changed since the last build; return the runtime classpath."""
    digest = source_digest(build_inputs())
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built["digest"] == digest:
            return built["classpath"], digest
    log("building with sbt")
    t0 = time.time()
    # sbt's own state (launcher, global settings) stays in the checkout
    cmd = ["sbt", "-batch", "-no-colors", "-Dsbt.global.base=" + os.path.join(BUILD, "sbt"),
           "-Dsbt.server.autostart=false", "compile", "export Runtime/fullClasspath"]
    # its own process group, so a timeout stops sbt's JVM with the script
    # dependencies come from the local cache only: a run never fetches
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail("the build did not finish in %ds" % BUILD_TIMEOUT_S, 1)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        fail("the build failed", 1)
    classpath = lines[-1]
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log("built in %.1fs" % (time.time() - t0))
    return classpath, digest


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_one(workload, args, data, classpath, digest):
    """Run one workload in its own JVM; return its result dict or None."""
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    out = os.path.join(OUT, "%s-s%d-t%d.json" % (workload, args.seed, args.trace))
    if os.path.exists(out):
        os.remove(out)
    load_before = os.getloadavg()[0]
    cmd = (["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", classpath, "graftbench.Main",
           "--workload", workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--out", out,
           "--spec", os.path.join(ROOT, "BENCHMARK.json"),
           "--t0-ms", str(int(time.time() * 1000))])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("%s: timed out after %ds" % (workload, RUN_TIMEOUT_S))
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        log("%s: the run exited with %d" % (workload, code))
        return None
    with open(out) as f:
        res = json.load(f)
    res["stamp"].update({
        "loadavg_1m_before": load_before, "loadavg_1m_after": os.getloadavg()[0],
        "git_commit": git_commit(), "source_digest": digest,
        "seconds": args.seconds, "trace": args.trace, "held_out_seed": HELD_OUT_SEED})
    with open(out, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    return res


def show(res):
    head = "%s seed=%d trace=%d correct=%s attempted=%d failed=%d" % (
        res["workload"], res["seed"], res["trace"], res["correct"],
        res["attempted"], res["failed"])
    print("== " + head)
    print("  samples      " + " ".join("%s:%.0fms%s" % (x["kind"], x["ms"], "" if x["ok"] else "!")
                                     for x in res.get("samples", [])))
    for section in ("end_to_end", "per_layer", "report", "stamp"):
        items = res.get(section) or {}
        for name in sorted(items):
            v = items[name]
            if isinstance(v, dict) and "value" in v:
                print("  %-12s %-42s %16.6g %s" % (section, name, v["value"], v["unit"]))
            else:
                print("  %-12s %-42s %s" % (section, name, json.dumps(v)))


def result_line(res):
    """The last stdout line: the metrics BENCHMARK.json declares for this
    mode, as the run reported them."""
    section = "per_layer" if res["trace"] else "end_to_end"
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": res[section]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail("graft's sources (src/main/scala/graft) are not beside perfbench/")
    data = data_dir()
    if not os.path.isdir(data):
        fail("the sf0.1 tables are missing: %s" % data)
    classpath, digest = build()
    names = WORKLOADS if args.workload == "all" else [args.workload]
    lines = {}
    for w in names:
        res = run_one(w, args, data, classpath, digest)
        if res is None:
            fail("%s produced no result" % w, 1)
        show(res)
        lines[w] = result_line(res)
    if len(names) == 1:
        final = lines[names[0]]
    else:
        final = {"correct": all(l["correct"] for l in lines.values()),
                 "attempted": sum(l["attempted"] for l in lines.values()),
                 "failed": sum(l["failed"] for l in lines.values()),
                 "metrics": {"%s.%s" % (w, k): v for w, l in lines.items()
                             for k, v in l["metrics"].items()}}
    print(json.dumps(final), flush=True)


if __name__ == "__main__":
    main()
