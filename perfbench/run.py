#!/usr/bin/env python3
"""End-to-end benchmark of the graph build and analysis chain.

Run from the root of a checkout:

    python3 perfbench/run.py --workload build_tpch --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 1 \
        --record perfbench/records/trace.json

The first run compiles the library and the benchmark driver with sbt into
perfbench/target (again whenever a source changes). Each run starts one JVM
(`perfbench.Main`) with a `local[<cpus>]` Spark session; all inputs, outputs
and Spark scratch space live under perfbench/work. The last line of stdout
is the result object; the line before it holds the per-iteration detail.
`--workload all` runs every workload in turn and prints every metric with
its unit and sample count.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The benchmark's workloads, then single-chain ones for focused runs.
WORKLOADS = ["build_harmonize", "analyze"]
EXTRA = ["build_tpch", "analyze_graph", "curate_corpus"]
RUN_TIMEOUT_S = 170
# A small heap keeps the JVM's resident size, and so peak_rss_mb, from
# following the collector's lazy heap growth; the inputs need far less.
HEAP = "1g"
# The C1 compiler only, and the single-threaded collector: with the C2
# compiler the JVM kept compiling Spark's and the library's hot methods for
# the whole run (tens of CPU seconds), so each iteration's time depended on
# how far compilation had got and on how much CPU the box left it. Under C1
# an iteration reaches its steady time within one or two warm-up runs.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC"]
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd`, killing it and waiting for it if it outlives `timeout`."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s")
    return proc.returncode, out


def classpath():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources not found under src/main/scala; "
             "run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp = os.path.join(HERE, "target", "perfbench.classpath")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved, cp = fh.read().split("\n", 1)
        if saved == digest:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + cp)
    return cp


def run_one(args, cp, deadline):
    work = os.path.join(HERE, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData", "-Dspark.ui.enabled=false"] + JIT
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work])
    code, out = run_bounded(cmd, max(10, deadline - time.time()), cwd=ROOT,
                            stdin=subprocess.DEVNULL)
    sys.stdout.write(out)
    sys.stdout.flush()
    if code != 0:
        sys.exit(code)


def run_all(args):
    """Every workload in its own process; a table of every metric."""
    results, failed = {}, False
    for w in WORKLOADS + EXTRA:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              stdin=subprocess.DEVNULL)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"{w}: failed (exit {proc.returncode})")
            failed = True
            continue
        detail = json.loads(lines[-2])["detail"]
        result = json.loads(lines[-1])
        results[w] = {"detail": detail, "result": result}
        samples = detail["samples"]
        if args.trace:
            samples = {"iterations": detail["traced"]["iterations"]}
        print(f"\n{w}  attempted={result['attempted']} failed={result['failed']}"
              f"  failed_ratio={detail['failed_ratio']}  correct={result['correct']}")
        for name, m in sorted(result["metrics"].items()):
            n = samples.get(name, samples["iterations"])
            print(f"  {name:40s} {m['value']:>16.6g} {m['unit']:6s} n={n}")
        failed |= not result["correct"]
    if args.record:
        with open(args.record, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
            fh.write("\n")
    sys.exit(1 if failed else 0)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record", help="with --workload all: write every "
                   "result and its detail to this JSON file")
    args = p.parse_args()
    cp = classpath()
    if args.workload == "all":
        run_all(args)
    run_one(args, cp, time.time() + RUN_TIMEOUT_S)


if __name__ == "__main__":
    main()
