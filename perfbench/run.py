#!/usr/bin/env python3
"""Build and run the benchmark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program under
test together with the benchmark code (sbt, into .bench_build/) and
rebuilds whenever a source file changes. Each workload runs in its own JVM;
its report goes to stderr and its last stdout line is one JSON object with
the metrics. `--workload all` runs every workload in turn and prints a
table of every metric by workload, then one JSON object keyed by workload.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
TARGET = os.path.join(BUILD, "perfbench")
WORKLOADS = ["columnar_table", "llm_curation"]
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 175


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, with size and mtime."""
    found = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files]
    found += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for f in sorted(found):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no program sources under src/main/scala/graft; run from a full checkout")
    stamp = os.path.join(TARGET, "stamp")
    classpath = os.path.join(TARGET, "classpath.txt")
    want = sources()
    if os.path.exists(stamp) and os.path.exists(classpath) and open(stamp).read() == want:
        return open(classpath).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building (sbt writeClasspath)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed with exit code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(want)
    return open(classpath).read().strip()


def run_one(classpath, workload, seed, seconds, trace):
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{trace}")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--work", work])
    proc = subprocess.Popen(cmd, cwd=BUILD, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: {workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: {workload} exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    want = declared_metrics(trace)
    if want is not None and set(result["metrics"]) != want:
        sys.exit(f"perfbench: {workload} reported {sorted(set(result['metrics']) ^ want)} "
                 "against BENCHMARK.json")
    return result


def declared_metrics(trace):
    """The metric names BENCHMARK.json declares for this mode, if it is there."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    spec = json.load(open(path))
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    classpath = build()
    if a.workload != "all":
        print(json.dumps(run_one(classpath, a.workload, a.seed, a.seconds, a.trace)))
        return
    results = {w: run_one(classpath, w, a.seed, a.seconds, a.trace) for w in WORKLOADS}
    print(f"{'workload':<14} {'metric':<36} {'value':>14} unit")
    for w, r in results.items():
        rate = r["failed"] / r["attempted"]
        print(f"{w:<14} {'error_rate':<36} {rate:>14.4f} failed/attempted ({r['failed']} of {r['attempted']})")
        for name, m in r["metrics"].items():
            print(f"{w:<14} {name:<36} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps(results))


if __name__ == "__main__":
    main()
