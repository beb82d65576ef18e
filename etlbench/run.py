#!/usr/bin/env python3
"""Build and run one etlbench workload.

Usage (from the repository root):
    python3 etlbench/run.py --workload jobs_etl --seed 1 --seconds 10 --trace 0

Builds the engine's sources together with the benchmark driver (sbt, offline)
into .bench_build/ on first use or when a source changed, then runs the
workload in one JVM and prints its result as the last line of stdout.
Extra options for the benchmark's own tests: --size tiny, --plant-wrong 1.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("jobs_etl", "analyst_queries", "corpus_ingest")
RUN_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_stamp():
    """Hash of every file the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(env):
    """Compile with sbt and return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found; run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    # accepted for the harness; a run always executes its whole op list
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant-wrong", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-golden", help="comma-separated queries: rewrite the golden file")
    ap.add_argument("--stage-only", type=int, choices=(0, 1), default=0,
                    help="stage the inputs and print their digest, then stop")
    args = ap.parse_args()

    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(),
               SBT_OPTS=(os.environ.get("SBT_OPTS", "") + " -XX:-UsePerfData").strip())
    cp = build(env)
    t0 = time.time()  # set-up is timed from here: the build is not part of it
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    # C1 only: code settles right after warm-up instead of being recompiled
    # by C2 during the timed window, which made op times drift within a run
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dderby.system.home=" + tmp]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "etlbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--trace", str(args.trace), "--size", args.size,
            "--plant-wrong", str(args.plant_wrong), "--t0-ms", str(int(t0 * 1000))]
    if args.write_golden or args.stage_only:
        cmd += ["--write-golden", args.write_golden] if args.write_golden else ["--stage-only", "1"]
        sys.exit(subprocess.run(cmd, cwd=ROOT, env=env).returncode)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    if proc.returncode != 0 or not result:
        sys.stdout.write(out)
        fail(f"run failed (exit {proc.returncode})")
    for l in lines:
        if l is not result[-1]:
            print(l)
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
