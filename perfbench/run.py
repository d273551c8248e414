#!/usr/bin/env python3
"""Benchmark driver for the blazespark query suite.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source (sbt, offline) when their
sources change, then runs one harness JVM over the bundled sf0.01
fixtures. Everything it writes stays under .bench_build/perfbench in the
checkout. The last stdout line is the JSON result.

To re-record perfbench/expected.tsv after a deliberate change of a row's
output, add --record FILE: it writes the observed (rows, digest) of every
row of the workload.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(BUILD, "work")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.tsv")
JAVA_OPTIONS = os.path.join(HERE, "target", "java-options.txt")
HARNESS_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_fingerprint():
    """Hash of every input of the build: program and harness sources."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        if not os.path.isfile(p):
            raise SystemExit(f"[perfbench] missing build input {os.path.relpath(p, ROOT)}")
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when the sources changed; return the runtime
    classpath and the program's JVM options, as its build.sbt sets them."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("fingerprint") == fp and "java_options" in got:
            return got["classpath"], got["java_options"]
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath",
         "writeJavaOptions"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("[perfbench] build failed")
    log(f"build took {time.time() - t0:.1f} s")
    with open(JAVA_OPTIONS) as f:
        opts = [l for l in f.read().splitlines() if l]
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1].strip(), "java_options": opts}, f)
    return cp[-1].strip(), opts


def run_harness(cp, java_options, args):
    """Runs the harness JVM in the work dir; returns (exit code, stdout).
    The heap cap comes after the program's options, so it overrides theirs."""
    cmd = (["java"] + java_options +
           ["-Xmx4g", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-cp", cp, "perfbench.Harness"] + args)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=HARNESS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"[perfbench] harness exceeded {HARNESS_TIMEOUT_S} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record")
    a = ap.parse_args()

    cp, java_options = build()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cpus", str(cpus()), "--data", FIXTURES,
            "--out", os.path.join(BUILD, "results"), "--expected", EXPECTED]
    if a.record:
        args += ["--record", os.path.abspath(a.record)]
    rc, out = run_harness(cp, java_options, args)
    lines = out.splitlines()
    for l in lines[:-1]:
        print(l)
    if rc != 0 or not lines:
        raise SystemExit(f"[perfbench] harness exited with {rc}")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        raise SystemExit(f"[perfbench] malformed result line: {lines[-1]}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
