#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <docdb_serve|docdb_ingest|batch_suite>
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the harness and the library from source with sbt
(perfbench/build.sbt); later runs reuse the build until a source file
changes. Each run is one fresh JVM with local[nproc] Spark. The last
line of standard output is the result JSON; a report with each
workload's own named metrics goes to standard error.

`--overhead` (in place of `--trace`) runs the workload untraced and then
traced with the same seed, and prints the tracing overhead of every
end-to-end metric as traced / untraced.
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
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORK = os.path.join(ROOT, ".bench_work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_newest():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(HERE, "build.sbt")):
        if os.path.isfile(base):
            newest = max(newest, os.path.getmtime(base))
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compiles with sbt and records the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_newest():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    try:
        p = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())


def driver_mem():
    """Spark driver heap: half of physical memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def run_once(args, trace):
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", f"-Xmx{driver_mem()}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace), "--work", work]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.move(spans, os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(out[-2000:])
        fail(f"workload exited with {p.returncode}", 4)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--trace", type=int, choices=[0, 1])
    mode.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    # the harness builds the library from this checkout's own sources
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: its build.sbt and src/main/scala/graft are missing")
    t0 = time.time()
    build()
    print(f"perfbench: build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    if not args.overhead:
        print(json.dumps(run_once(args, args.trace)))
        return
    plain = run_once(args, 0)["metrics"]
    traced = run_once(args, 1)["metrics"]
    for name, m in plain.items():
        t = traced.get("traced." + name)
        if t:
            print(f"{name}: untraced {m['value']:.4g} {m['unit']}, traced {t['value']:.4g}, "
                  f"ratio {t['value'] / m['value']:.3f}")


if __name__ == "__main__":
    main()
