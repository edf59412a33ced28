#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 28 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from the checkout's sources with sbt (offline) and copies the
compiled classes into .bench_build/; later runs reuse that copy while the
sources and build definitions are unchanged. The workload runs in one JVM
and the last line printed is the result object.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
WORKLOADS = ("batch", "chain_sync")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list the engine's own build passes to its mains.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build reads: sources, build files, sbt
    version and plugins of both builds."""
    h = hashlib.sha256()
    files = []
    for build in (ROOT, BENCH):
        files.append(build / "build.sbt")
        files += sorted(p for p in (build / "project").glob("*") if p.suffix in (".sbt", ".scala", ".properties"))
        files += sorted(p for p in (build / "src" / "main").rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD / 'tmp'}"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def snapshot(classpath):
    """Copy the classpath's class directories into .bench_build/classes, so
    no other compile in the tree can change what a run loads."""
    dest = BUILD / "classes"
    shutil.rmtree(dest, ignore_errors=True)
    entries = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(entry):
            copy = dest / str(i)
            shutil.copytree(entry, copy)
            entry = str(copy)
        entries.append(entry)
    return os.pathsep.join(entries)


def build():
    """Compile the engine and the benchmark; returns the runtime classpath."""
    digest = sources_digest()
    cp_file, digest_file = BUILD / "classpath.txt", BUILD / "digest.txt"
    if cp_file.is_file() and digest_file.is_file() and digest_file.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.log", "w") as log:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=BUILD_TIMEOUT_S)
        except (FileNotFoundError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    log_lines = proc.stdout.splitlines()
    with open(BUILD / "build.log", "a") as log:
        log.write(proc.stdout)
    cps = [l for l in log_lines if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        fail(f"build failed (exit {proc.returncode}); see {BUILD / 'build.log'}")
    cp = snapshot(cps[-1].strip())
    cp_file.write_text(cp)
    digest_file.write_text(digest)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("run from the root of a checkout holding the engine's sources (build.sbt, src/)")
    cp = build()
    work = WORK / a.workload
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"workload {a.workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"workload {a.workload} exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
