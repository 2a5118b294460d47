#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness and graft
from source with sbt (perfbench/build.sbt); later runs reuse the build until a
source file changes. Each run generates its inputs from the seed
(perfbench/gen.py), starts one JVM with the harness (perfbench/src), and:

  --trace 0  times the workload's ops with no listeners attached and prints
             the end-to-end metrics;
  --trace 1  attaches the harness's listeners and spans to half the loop's
             steps and prints the per-layer metrics, with
             trace.overhead_frac against the untraced steps of the same run.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. The line before it ("# detail ...") gives the workload's own view
(per-family medians, sample counts). Every op, span and check goes to
perfbench/results/<workload>_s<seed>_c<cpus>_t<trace>.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["etl_dump", "serve_mix"]
HEAP = "2g"
JAVA_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600  # with the JVM timeout, a first run ends inside 15 minutes

# Spark on JDK 17 outside spark-submit needs these (the same list the graft
# build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Newest mtime over everything the build compiles."""
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            newest = max(newest, os.path.getmtime(r))
        for d, _, fs in os.walk(r):
            for f in fs:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def classpath():
    """Build graft and the harness if needed; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found next to perfbench/; "
                             "run from the root of a graft checkout")
    cache = os.path.join(HERE, "target", "classpath.json")
    stamp = sources_stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["stamp"] == stamp and all(os.path.exists(p) for p in c["cp"].split(os.pathsep)):
            return c["cp"]
    log("building graft and the harness (sbt)")
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    log(f"built in {time.time() - t:.0f} s")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "cp": cp}, f)
    return cp


def cpus():
    """Spark's local[N]: the CPUs available, at most 4, so that hosts with
    more cores still run the same configuration."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def main():
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = classpath()
    n = cpus()
    work = os.path.join(HERE, "work", f"{a.workload}-s{a.seed}-t{a.trace}")
    inputs = os.path.join(work, "inputs")
    shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{a.workload}_s{a.seed}_c{n}_t{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    try:
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
                        "--seed", str(a.seed), "--out", inputs], check=True)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--inputs", inputs,
                "--work", os.path.join(work, "run"), "--cpus", str(n), "--out", out]
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        jlog = os.path.join(work, "jvm.log")
        with open(jlog, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT, env=env)
            try:
                code = proc.wait(timeout=JAVA_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.exists(out):
            with open(jlog) as lf:
                sys.stderr.write(lf.read()[-6000:])
            raise SystemExit(f"perfbench: harness failed (exit {code})")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in res.get("problems", []):
        log(p)
    print("# detail " + json.dumps(res["detail"], separators=(",", ":")))
    summary = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
