#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest_etl --seed 1 --seconds 30 --trace 0

Builds the engine together with the benchmark main (perfbench/build.sbt)
the first time it runs in a checkout, then starts one JVM per run. Every
run gets a fresh, empty fixture root under perfbench/.work/, removed when
the run ends. Traced runs (--trace 1) also write their spans to
perfbench/out/trace-<workload>-<seed>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CP_FILE = os.path.join(HERE, "target", "run-classpath.txt")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("ingest_etl", "curation_pipeline")

# Timed passes of a run at --seconds 30, scaled with --seconds (at least 2),
# so every run of a workload does the same work. On a 4-core host a pass
# takes about 7.5 s (ingest_etl) or 4.2 s (curation_pipeline), and a whole
# run about 70 s or 45 s.
PASSES_AT_30S = 4

# JIT settings that let compilation settle within the warm pass, so the
# timed passes measure the engine and not how far the JIT has got:
# - C1 only. A run is too short for C2 to settle at these input sizes: with
#   tiered compilation the ingest_etl pass still fell from 12 s to 8 s over
#   eight timed passes.
# - Compile thresholds at a tenth, so the warm pass compiles what the timed
#   passes run; at the default the pass time kept falling for four passes.
# - A code cache that never fills and is never flushed: the sweeper would
#   otherwise flush code the next pass needs, and the recompilation made
#   the third timed pass of every run 12-24% slower.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:CompileThresholdScaling=0.1", "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UseCodeCacheFlushing"]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every source the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for build in (os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")):
        with open(build, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    stamp = source_stamp()
    if os.path.isfile(CP_FILE):
        with open(CP_FILE) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building engine + benchmark (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    rc, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True)
    if rc != 0:
        sys.stderr.write(out or "")
        raise SystemExit(f"build failed (rc={rc})")
    cp = out.strip().splitlines()[-1]
    with open(CP_FILE, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=EXPECTED,
                    help="expected digests (default: perfbench/expected.json)")
    ap.add_argument("--record", help="write this run's digests here instead of checking")
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    cp = classpath()

    passes = max(2, round(PASSES_AT_30S * args.seconds / 30))
    work = os.path.join(HERE, ".work", uuid.uuid4().hex)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JVM_OPTS
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Dgraft.fixtures.dir={os.path.join(work, 'fixtures')}",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--trace", str(args.trace), "--data", DATA,
            "--passes", str(passes)]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    else:
        cmd += ["--expected", os.path.abspath(args.expected)]
    if args.trace:
        cmd += ["--trace-out", os.path.join(
            HERE, "out", f"trace-{args.workload}-{args.seed}.json")]
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(out or "")
        raise SystemExit(f"benchmark JVM failed (rc={rc})")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
